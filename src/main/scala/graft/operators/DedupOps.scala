package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.Lineage.Cuttable
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.sources.Tables

/** Near-duplicate detection at scale: MinHash+LSH banding, SimHash, rolling
  * hash (driver-mandated extension, SURVEY.md §2.10).
  *
  * The scale architecture (100 TB): never compare all pairs. Each document is
  * reduced to a constant-size signature in one pass (map-side, codegen'd
  * hash functions, one shuffle per aggregation); LSH banding turns
  * "similar pair" into "equal band hash", i.e. an equi-join Catalyst can
  * shuffle-partition — candidate generation is a join on (band, hash), and
  * only candidates pay the exact-Jaccard verification.
  *
  * All hashing goes through [[graft.functions.PortableHash]] (sha256-slice
  * token hash + modular-arithmetic permutations), so every sketch here is
  * reproducible in ANSI SQL — q36/q37 are hash-compared against DuckDB
  * running the mirrored SQL, not just row-counted.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame
  import PortableHash.{P, foldSql, permSql, tokenHashPSql, tokenHashSql}

  /** distinct whitespace tokens of a text column */
  def tokenSet(textCol: Column): Column = array_distinct(split(textCol, " "))

  /** distinct w-shingles (n-gram windows over the token SEQUENCE — order
    * sensitive, unlike tokenSet): the standard MinHash unit for documents
    * where word order matters. Docs shorter than n tokens get an empty
    * set. Backed by the codegen'd [[graft.functions.ShingleArray]] kernel
    * (the interpreted higher-order form below costs seconds per pass —
    * DedupOpsSpec asserts the two are identical). */
  def shingles(toksCol: Column, n: Int): Column =
    graft.functions.ShingleArray.shingles(toksCol, n)

  /** Interpreted higher-order reference implementation of [[shingles]] —
    * kept as the equivalence oracle for the codegen kernel.
    *
    * Takes a pre-split token ARRAY column: pass an attribute (project the
    * split once), not an inline `split(...)` — each element_at in the
    * shingle lambda would otherwise re-split the full text, which measured
    * 7.5× slower on real documents. */
  def shinglesHof(toksCol: Column, n: Int): Column =
    when(size(toksCol) >= n,
      array_distinct(transform(sequence(lit(1), size(toksCol) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(o => element_at(toksCol, i + lit(o))): _*))))
      .otherwise(array().cast("array<string>"))

  /** [[shingles]] from raw text — convenience for small inputs/tests; hot
    * paths should pre-project the split (see q60). */
  def shingleSet(textCol: Column, n: Int): Column =
    shingles(split(textCol, " "), n)
  /** DuckDB mirror of [[shingleSet]] (n=2). */
  def shingleSetSql(textExpr: String): String =
    s"CASE WHEN len(string_split($textExpr, ' ')) >= 2 THEN " +
      s"list_distinct(list_transform(range(1, len(string_split($textExpr, ' '))), " +
      s"i -> string_split($textExpr, ' ')[i] || ' ' || string_split($textExpr, ' ')[i+1])) " +
      s"ELSE [] END"

  // ------------------------------------------------------------ MinHash
  /** k-permutation MinHash signatures: one row per id, columns __h0..__h{k-1}.
    * Single explode + single groupBy — the k mins are computed in one
    * aggregation pass (map-side partial min, tiny shuffle). The sha256
    * token hash is computed ONCE in a projection before the aggregate
    * (inside the aggregate it would run once per permutation — k× the
    * hashing cost, the difference between 2 s and 15 s at sf0.1); the k
    * affine mixes over the hashed column are integer-cheap. */
  def minhashSignatures(toks: DataFrame, idCol: String, tokCol: String,
      k: Int): DataFrame = {
    val hashed = toks
      .select(col(idCol), explode(col(tokCol)).as("__tok"))
      .select(col(idCol), PortableHash.tokenHashP(col("__tok")).as("__h"))
    val aggs = sigAggsOver(k, col("__h"))
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.drop(1): _*)
  }

  /** k min-of-permutation aggregates over a mod-P hash column. */
  private def sigAggsOver(k: Int, h: Column): Seq[Column] =
    (0 until k).map(i => min(PortableHash.perm(i, h)).as(s"__h$i"))

  /** band-hash columns over the __h signature components: order-sensitive
    * fold seeded with the band index */
  private def bandHashCols(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"__h${b * rowsPerBand + r}"))
      PortableHash.fold(b.toLong, parts).as(s"__band$b")
    }

  /** Hot-bucket cap for every band self-join in the LSH family: buckets
    * with more members than this are decomposed into block pairs so no
    * single reducer ever materializes a quadratic bucket. 1024 keeps the
    * per-task pair count ≤ ~(2·1024)²/2 ≈ 2M — comfortably in-memory —
    * while at test scale no real bucket comes near it (the decomposition
    * is exercised by spec with a tiny cap). */
  val DefaultMaxBucket: Int = 1024

  /** The one band self-join kernel: `banded` must carry `idCol`, `__bidx`,
    * `__bhash`, plus `payload` columns; returns one row per co-bucketed
    * ordered pair (`__ga` < `__gb`, payload as `<p>_a`/`<p>_b`) — one row
    * PER SHARED BAND (callers dedup when they need set semantics).
    *
    * Skew safety (the 100 TB story): a pathological bucket — 10⁵
    * near-identical-but-distinct docs sharing a band hash — would make a
    * plain equi self-join put ~5·10⁹ pairs in ONE reducer. Buckets larger
    * than `maxBucket` are instead split into B = ⌈n/maxBucket⌉ blocks by
    * member-id hash, and each unordered block pair (p ≤ q) is shipped to
    * its own reducer: side A emits a row for each q ∈ [blk, B), side B
    * for each p ∈ [0, blk], so pair (x, y) with blocks (bx ≤ by) meets in
    * exactly reducer (bx, by) — identical output, per-reducer input
    * bounded by 2·maxBucket rows. The total candidate count is inherent
    * to exact pair enumeration (that is what the query returns); the cap
    * turns one straggler into ~B²/2 even tasks. The pre-count of bucket
    * sizes is a map-side-combinable aggregation over the banded rows. */
  private[operators] def bandSelfJoin(banded0: DataFrame, idCol: String,
      payload: Seq[String], maxBucket: Int): DataFrame = {
    // The max-bucket probe below is an EAGER action at call time; without
    // a materialization here the caller's upstream pipeline would re-run
    // up to 3× (probe + both self-join sides — r9 advice: lshCandidates
    // paid exactly that). A lineage cut, NOT Dataset.persist: the blocks
    // are RDD-level and reference-tracked, so the ContextCleaner
    // reclaims them when the returned frame is GC'd — a persist() would
    // sit in the CacheManager until an explicit clearCache, accumulating
    // executor storage across invocations (r12 advice).
    //
    // Every cut in this file goes through [[Lineage.cut]], where the
    // executor-loss trade (r13/r14 advice) is resolved as a deployment
    // config: `graft.iterative.checkpoint` = local (default; zero-copy,
    // non-replicated) | reliable (checkpoint-dir backed, survives
    // executor loss) — see Lineage's scaladoc for when to pick which.
    val banded = banded0.lineageCut()
    def aSide(df: DataFrame, keys: Seq[String]): DataFrame =
      df.select((keys.map(col) :+ col(idCol).as("__ga")) ++
        payload.map(p => col(p).as(s"${p}_a")): _*)
    def bSide(df: DataFrame, keys: Seq[String]): DataFrame =
      df.select((keys.map(col) :+ col(idCol).as("__gb")) ++
        payload.map(p => col(p).as(s"${p}_b")): _*)
    val out = Seq(col("__ga"), col("__gb")) ++
      payload.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b")))

    // Adaptive: an eager max-bucket probe (map-side-combinable aggregate,
    // the same eager-probe pattern as minhashNearDupTokens' vocab count)
    // decides the plan. The common case — no bucket over the cap — takes
    // the plain self-join with ZERO overhead vs the uncapped kernel; the
    // decomposition machinery (window count + cache + four branches,
    // measured ~+50% on the output-bound q60 when always-on) only runs
    // when a pathological bucket actually exists.
    val maxBn = Option(
      banded.groupBy(col("__bidx"), col("__bhash"))
        .agg(count(lit(1)).as("__bn"))
        .agg(max(col("__bn"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long])
    if (maxBn <= maxBucket)
      return aSide(banded, Seq("__bidx", "__bhash"))
        .join(bSide(banded, Seq("__bidx", "__bhash")),
          Seq("__bidx", "__bhash"))
        .filter(col("__ga") < col("__gb"))
        .select(out: _*)

    import org.apache.spark.sql.expressions.Window
    // Hot path: bucket sizes via a window count over (band, hash),
    // checkpointed — ONE shuffle computes the sizes AND leaves the frame
    // partitioned on exactly the keys the self-join needs (localCheckpoint
    // carries the physical plan's outputPartitioning into the LogicalRDD),
    // so the cold a/b branches join block-to-block with no further
    // exchange; all four join branches read the materialized blocks
    // instead of re-running the upstream pipeline. Banded rows are
    // (id, band, hash, payload) — a few MB per million docs; the
    // ContextCleaner reclaims the blocks when the returned frame is GC'd
    // (unlike persist(), which leaks in the CacheManager — r12 advice).
    val tagged = banded.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(col("__bidx"), col("__bhash"))))
      .lineageCut()

    val cold = tagged.filter(col("__bn") <= maxBucket)
    val coldPairs = aSide(cold, Seq("__bidx", "__bhash"))
      .join(bSide(cold, Seq("__bidx", "__bhash")), Seq("__bidx", "__bhash"))
      .filter(col("__ga") < col("__gb"))
      .select(out: _*)

    val hot = tagged.filter(col("__bn") > maxBucket)
      .withColumn("__B",
        ceil(col("__bn").cast("double") / maxBucket).cast("int"))
      .withColumn("__blk",
        pmod(xxhash64(col(idCol)), col("__B").cast("long")).cast("int"))
    val hotKeys = Seq("__bidx", "__bhash", "__p", "__q")
    val hotA = aSide(
      hot.withColumn("__p", col("__blk"))
        .withColumn("__q",
          explode(sequence(col("__blk"), col("__B") - 1))), hotKeys)
    val hotB = bSide(
      hot.withColumn("__q", col("__blk"))
        .withColumn("__p", explode(sequence(lit(0), col("__blk")))), hotKeys)
    val joined = hotA.join(hotB, hotKeys)
    // Reducer (p, p) holds block p on both sides: the ga < gb filter keeps
    // each unordered pair once. Reducer (p, q), p < q, holds DISJOINT
    // blocks (a gid hashes to one block), so each cross pair arrives
    // exactly once but in hash order, not id order — orient it to
    // (least, greatest), swapping the payload along with the ids.
    val diag = joined
      .filter(col("__p") === col("__q") && col("__ga") < col("__gb"))
      .select(out: _*)
    val offOut = Seq(
      least(col("__ga"), col("__gb")).as("__ga"),
      greatest(col("__ga"), col("__gb")).as("__gb")) ++
      payload.flatMap(p => Seq(
        when(col("__ga") < col("__gb"), col(s"${p}_a"))
          .otherwise(col(s"${p}_b")).as(s"${p}_a"),
        when(col("__ga") < col("__gb"), col(s"${p}_b"))
          .otherwise(col(s"${p}_a")).as(s"${p}_b")))
    val off = joined.filter(col("__p") =!= col("__q")).select(offOut: _*)

    coldPairs.union(diag).union(off)
  }

  /** LSH banding: signature → `bands` hashes of `rowsPerBand` components;
    * docs sharing any band hash become candidate pairs via an equi-join.
    * `dedup=false` defers the pair-distinct to after verification — when
    * most candidates are filtered out, deduping the small verified set is
    * far cheaper than deduping the raw candidate stream.
    *
    * NOTE: NOT lazy — calling this runs an eager Spark job (the skew
    * probe that sizes the largest band bucket, see [[bandSelfJoin]])
    * before returning the candidate frame. The probe reads a cached copy
    * of the banded signatures, which the returned frame's join branches
    * then reuse. */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int, dedup: Boolean = true,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = sig.select(col(idCol) +: bandHashCols(bands, rowsPerBand): _*)
    val long = banded.select(col(idCol),
      posexplode(array((0 until bands).map(b => col(s"__band$b")): _*))
        .as(Seq("__bidx", "__bhash")))
    val pairs = bandSelfJoin(long, idCol, Seq.empty, maxBucket)
      .select(col("__ga").as("id_a"), col("__gb").as("id_b"))
    if (dedup) pairs.distinct() else pairs
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification on candidates only.
    *
    * Adaptive verification kernel: when the global vocabulary fits in 62
    * bits, token sets are dictionary-encoded into a single long bitmask and
    * Jaccard becomes integer `bit_count(a&b)/bit_count(a|b)` — orders of
    * magnitude cheaper per pair than string-array intersection, which
    * matters when the corpus is dense with near-dups. Larger vocabularies
    * take the general array path (at 100 TB the analog is a fixed-width
    * hashed bitmap / roaring bitmap per document). The mask table is a few
    * bytes per doc, so Catalyst auto-broadcasts the verify join at test
    * scale and falls back to a shuffle join when it grows. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.9): DataFrame =
    minhashNearDupTokens(df, idCol, tokenSet(col(textCol)),
      numHashes, bands, threshold)

  /** [[minhashNearDup]] over an arbitrary token-set expression — the same
    * pipeline runs on unigram sets, w-shingles, or any precomputed
    * array<string> feature column.
    *
    * Structure (the production shape at 100 TB): ONE tokenize pass
    * canonicalizes each document's token set and collapses exact
    * duplicates — the result (one row per DISTINCT set + member list) is
    * persisted, because tokenization is interpreted higher-order-function
    * work (no codegen for transform/array_distinct; measured ~2.7 s per
    * evaluation at sf0.1) and every later stage derives from it: the
    * vocab probe, signatures, candidates, verification, and expansion.
    * All quadratic work runs over distinct sets (dup clusters of size m
    * would otherwise contribute m²/2 candidates per band); doc-level
    * pairs are expanded only after verification, and identical-set pairs
    * emit jaccard=1.0 directly. Cached blocks are reclaimed by the
    * ContextCleaner when the returned frame is GC'd. Docs with empty
    * token sets match nothing (as in the SQL mirror, where they produce
    * no hash rows). */
  /** Largest dictionary the fixed-width bitmap verification tier accepts
    * (64 K tokens = 1 KiB per set); overridable for tests. */
  val DefaultBitmapMaxVocab: Long = 1L << 16

  def minhashNearDupTokens(df: DataFrame, idCol: String, toksCol: Column,
      numHashes: Int, bands: Int, threshold: Double,
      bitmapMaxVocab: Long = DefaultBitmapMaxVocab,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // 1. tokenize once → distinct canonical sets, keyed by smallest member
    val canon = df
      .select(col(idCol), array_sort(array_distinct(toksCol)).as("__set"))
      .filter(size(col("__set")) > 0)
    val groups = canon.groupBy(col("__set"))
      .agg(collect_list(col(idCol)).as("__members"))
      .withColumn("__gid", array_min(col("__members")))
      .lineageCut() // ContextCleaner-reclaimed, not a CacheManager
                         // entry — no cross-invocation storage residue
    // 2. vocab probe — from the materialized blocks, a few thousand rows
    val vocab = groups.select(explode(col("__set")).as("__tok")).distinct()
    val vocabSize = vocab.count()
    val smallVocab = vocabSize <= graft.functions.TokenBitmask.MaxVocab
    // 3. row-local band hashes over distinct sets — the codegen
    // MinhashBands kernel (bit-identical to the explode+groupBy signature
    // aggregation it replaces: same hash, perms, and band folds, proven by
    // q67's oracle and the StreamingDedup equivalence spec). No token
    // explode, no 16-aggregate shuffle: one tight loop per distinct set.
    val banded0 = groups.select(col("__gid"),
      posexplode(graft.functions.MinhashBands.bands(
        col("__set"), numHashes, bands)).as(Seq("__bidx", "__bhash")))
    def candidatePairs: DataFrame =
      bandSelfJoin(banded0, "__gid", Seq.empty, maxBucket)
        .select(col("__ga"), col("__gb")).distinct()
    // 4. banded candidates + exact-Jaccard verification — three-tier
    // adaptive kernel by global vocab size:
    //   ≤62        one long per set, carried THROUGH the band explode so
    //              the self-join emits verification-ready pairs;
    //   ≤64K       fixed-width long-array bitmap per set (codegen popcount
    //              kernels, graft.functions.Bitmap), joined onto candidates;
    //   otherwise  general string-array intersection.
    // (A lossy HASHED bitmap extends the middle tier to unbounded vocabs
    // at 100 TB; not used here because the oracle requires exact sets.)
    val rowsPerBand = numHashes / bands
    val verified = if (smallVocab) {
      import graft.functions.TokenBitmask
      val dict = TokenBitmask.dictionary(vocab)
      val setMasks = groups
        .select(col("__gid"), explode(col("__set")).as("__tok"))
        .join(broadcast(dict), "__tok")
        .groupBy(col("__gid"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), __idx)")).as("__mask"))
      val banded = banded0.join(setMasks, "__gid")
        .select(col("__gid"), col("__mask"), col("__bidx"), col("__bhash"))
      bandSelfJoin(banded, "__gid", Seq("__mask"), maxBucket)
        .select(col("__ga"), col("__gb"),
          TokenBitmask.jaccard(col("__mask_a"), col("__mask_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .distinct()
    } else if (vocabSize <= bitmapMaxVocab) {
      // mid-size tier: dictionary-encode each set into ceil(vocab/64)
      // longs (graft.functions.Bitmap codegen kernels) — identical
      // jaccard values, popcount-cheap compares, and the verify join
      // carries a compact long array instead of the string sets
      import graft.functions.{Bitmap, TokenBitmask}
      val dict = TokenBitmask.dictionary(vocab)
      val words = ((vocabSize + 63) / 64).toInt
      val setBitmaps = groups
        .select(col("__gid"), explode(col("__set")).as("__tok"))
        .join(broadcast(dict), "__tok")
        .groupBy(col("__gid"))
        .agg(collect_list(col("__idx")).as("__pos"))
        .select(col("__gid"), Bitmap.fromPositions(col("__pos"), words).as("__bm"))
      val cand = candidatePairs
      val ba = setBitmaps.select(col("__gid").as("__ga"), col("__bm").as("__bm_a"))
      val bb = setBitmaps.select(col("__gid").as("__gb"), col("__bm").as("__bm_b"))
      cand.join(ba, "__ga").join(bb, "__gb")
        .withColumn("jaccard", Bitmap.jaccard(col("__bm_a"), col("__bm_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("__ga"), col("__gb"), col("jaccard"))
    } else {
      val cand = candidatePairs
      val sa = groups.select(col("__gid").as("__ga"), col("__set").as("__set_a"))
      val sb = groups.select(col("__gid").as("__gb"), col("__set").as("__set_b"))
      val inter = size(array_intersect(col("__set_a"), col("__set_b"))).cast("double")
      val union = (size(col("__set_a")) + size(col("__set_b"))).cast("double") - inter
      cand.join(sa, "__ga").join(sb, "__gb")
        .withColumn("jaccard", inter / union)
        .filter(col("jaccard") >= threshold)
        .select(col("__ga"), col("__gb"), col("jaccard"))
    }
    // 5. expand verified set pairs to doc pairs; identical-set pairs are
    // always candidates (same signature) with jaccard exactly 1.0
    val ga = groups.select(col("__gid").as("__ga"), col("__members").as("__mem_a"))
    val gb = groups.select(col("__gid").as("__gb"), col("__members").as("__mem_b"))
    val cross = verified.join(ga, "__ga").join(gb, "__gb")
      .select(explode(col("__mem_a")).as("__x"), col("__mem_b"), col("jaccard"))
      .select(col("__x"), explode(col("__mem_b")).as("__y"), col("jaccard"))
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("__members")) >= 2)
      .select(explode(col("__members")).as("__x"), col("__members"))
      .select(col("__x"), explode(col("__members")).as("__y"))
      .filter(col("__x") < col("__y"))
      .select(col("__x").as("id_a"), col("__y").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  // ------------------------------------------------------------ SimHash
  /** 48-bit SimHash over the portable token hash: per token, each bit votes
    * ±1; the signature bit is the vote sign. Two shuffles (per-bit votes,
    * then per-doc assembly); at scale both group on doc id so they
    * co-partition. Duplicate tokens vote multiply (frequency-weighted). */
  val SimHashBits = 48

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__tok"))
      .withColumn("__h", PortableHash.tokenHash(col("__tok")))
      .select(col(idCol), col("__h"),
        explode(sequence(lit(0), lit(SimHashBits - 1))).as("__bit"))
      .groupBy(col(idCol), col("__bit"))
      .agg(sum(when(expr("shiftright(__h, __bit) & 1") === 1, 1)
        .otherwise(-1)).as("__vote"))
      .groupBy(col(idCol))
      .agg(sum(when(col("__vote") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), __bit)")).otherwise(0L))
        .cast("long").as("simhash"))

  /** Hamming distance between two signatures (codegen'd builtins). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------- rolling hash
  /** Karp-Rabin-style rolling fingerprint over the token sequence
    * (order-sensitive, unlike the md5 content hash): higher-order
    * aggregate, no shuffle. Modular arithmetic keeps the accumulator
    * bounded — ANSI mode (Spark 4 default) would otherwise throw on
    * long overflow. */
  def rollingHash(tokensCol: Column): Column =
    aggregate(tokensCol, lit(0L),
      (acc, t) => (acc * lit(1000003L) + PortableHash.tokenHashP(t)) % lit(P))

  // ------------------------------------------------------------ queries
  /** q36: MinHash-LSH near-dup pairs on documents. */
  private val q36: Q = (s, dir) => {
    import s.implicits._
    minhashNearDup(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy($"id_a", $"id_b")
  }

  /** DuckDB mirror of the full LSH pipeline over any token-set SQL
    * expression: same token hash, same affine permutations, same band
    * fold, same candidate join, same exact-Jaccard verification
    * (list_intersect == bitmask kernel on distinct sets). */
  /** The toks→hash→signature→bands→candidates CTE prefix of the LSH
    * mirror, shared by [[lshPipelineSql]] (which appends the exact
    * verification tail) and q216's recall panel (which counts the
    * `cand` stage as the pipeline's cost axis). */
  private def lshCandCtes(tokensExpr: String, numHashes: Int, bands: Int,
      sourceSql: String): String = {
    val rpb = numHashes / bands
    val sigCols = (0 until numHashes)
      .map(i => s"    min(${permSql(i, "h")}) AS h${i}")
      .mkString(",\n")
    val bandSelects = (0 until bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb).map(i => s"h$i")
      s"  SELECT doc_id, $b AS bidx, ${foldSql(b.toLong, parts)} AS bhash FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""toks AS (
       |  SELECT doc_id, unnest($tokensExpr) AS tok
       |  FROM $sourceSql),
       |th AS (SELECT doc_id, ${tokenHashPSql("tok")} AS h FROM toks),
       |sig AS (
       |  SELECT doc_id,
       |$sigCols
       |  FROM th GROUP BY doc_id),
       |bnd AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd a JOIN bnd b
       |    ON a.bidx = b.bidx AND a.bhash = b.bhash AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def lshPipelineSql(tokensExpr: String, numHashes: Int, bands: Int,
      threshold: Double, sourceSql: String = "documents"): String = {
    s"""WITH ${lshCandCtes(tokensExpr, numHashes, bands, sourceSql)},
       |sets AS (
       |  SELECT doc_id, $tokensExpr AS s
       |  FROM $sourceSql)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |    AS jaccard
       |FROM cand
       |JOIN sets sa ON cand.id_a = sa.doc_id
       |JOIN sets sb ON cand.id_b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |    >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val q36Sql: String =
    lshPipelineSql("list_distinct(string_split(text, ' '))", 16, 4, 0.9)

  // --------------------------------------------------------------- q170
  /** [[graft.functions.TextNorm]] composed with the FULL MinHash-LSH
    * pipeline (the on-ramp in its place, not just audited): the q166
    * variant corpus — every document as-is, uppercased, and with
    * precomposed accents injected, under distinct ids — normalizes
    * BEFORE tokenization, so all three variants of a doc carry
    * identical token sets, identical signatures, identical band
    * buckets, and re-rank to Jaccard exactly 1.0; cross-document
    * near-dup pairs that exist in the raw corpus survive ×9 (every
    * variant pairing). Raw, each variant triple would near-miss every
    * band (q166 measures that collapse); normalized, LSH recall is
    * restored deterministically. Runs over a deterministic 1-in-10
    * document slice: the ×9 pair blowup is the point of the fixture,
    * not a cost worth paying corpus-wide (q166 audits the full corpus;
    * at sf0.1 the unsliced variant corpus emits 8.5M pairs — pure
    * output volume, no plan pathology). */
  private val q170: Q = (s, dir) => {
    import s.implicits._
    import graft.functions.TextNorm
    val d = Tables(s, dir, "documents").filter($"doc_id" % 10 === 0)
    val accented = replace(replace(replace($"text",
      lit("a"), lit("á")), lit("e"), lit("é")), lit("o"), lit("ó"))
    val v = d.select(($"doc_id" * 3).as("doc_id"), $"text")
      .unionAll(d.select(($"doc_id" * 3 + 1).as("doc_id"),
        upper($"text").as("text")))
      .unionAll(d.select(($"doc_id" * 3 + 2).as("doc_id"),
        accented.as("text")))
      .withColumn("text", TextNorm.normalize($"text"))
    minhashNearDup(v, "doc_id", "text").orderBy($"id_a", $"id_b")
  }
  private val q170Sql: String = {
    import graft.functions.TextNorm.normalizeSql
    val accent = "replace(replace(replace(text, 'a', 'á'), 'e', 'é'), " +
      "'o', 'ó')"
    lshPipelineSql("list_distinct(string_split(text, ' '))", 16, 4, 0.9,
      sourceSql =
        s"""(SELECT doc_id * 3 AS doc_id, ${normalizeSql("text")} AS text
           |   FROM documents WHERE doc_id % 10 = 0
           |   UNION ALL
           |   SELECT doc_id * 3 + 1, ${normalizeSql("upper(text)")}
           |   FROM documents WHERE doc_id % 10 = 0
           |   UNION ALL
           |   SELECT doc_id * 3 + 2, ${normalizeSql(accent)}
           |   FROM documents WHERE doc_id % 10 = 0)""".stripMargin)
  }

  /** q37: SimHash signature + order-sensitive rolling fingerprint per doc. */
  private val q37: Q = (s, dir) => {
    import s.implicits._
    val d = Tables(s, dir, "documents")
    simhash(d, "doc_id", "text")
      .join(d.select($"doc_id",
        rollingHash(split($"text", " ")).as("rolling_hash")), "doc_id")
      .select($"doc_id", $"simhash", $"rolling_hash")
      .orderBy($"doc_id")
  }

  private val q37Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${tokenHashSql("tok")} AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, bit,
       |    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th CROSS JOIN (SELECT unnest(range(0, $SimHashBits)) AS bit) b
       |  GROUP BY doc_id, bit),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
       |             ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id),
       |roll AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(0::BIGINT,
       |        list_transform(string_split(text, ' '),
       |          t -> ${tokenHashPSql("t")})),
       |      (acc, x) -> (acc * 1000003 + x) % $P) AS rolling_hash
       |  FROM documents)
       |SELECT sh.doc_id AS doc_id, simhash, rolling_hash
       |FROM sh JOIN roll ON sh.doc_id = roll.doc_id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q158
  /** SimHash near-dup with MULTIPROBE banding — the classic web-scale
    * configuration (Manku et al. WWW'07: find 64-bit SimHashes within
    * Hamming k of each other): plain 4-band LSH on a 48-bit SimHash
    * guarantees a shared band only for Hamming ≤ 3; PROBING each band's
    * one-bit neighborhood extends the guarantee to Hamming ≤ 7 with the
    * SAME four bands (pigeonhole: 7 flipped bits over 4 bands leave
    * some band with ≤ 1 flip, and a ≤-1-flip band matches the identity
    * band or one of its 12 one-bit variants — never quadratic, never a
    * band-count explosion).
    *
    * Shape: identical fingerprints collapse first (exact-dup clusters
    * are ONE node); the probe side carries each group's 4 identity
    * bands, the index side carries identity + 12 flipped variants per
    * band (13× index rows — the standard multiprobe trade: more index
    * entries, same query cost class); candidates route through the
    * skew-capped [[cappedProbeIndexJoin]]; verification is one
    * xor+popcount; members expand after verification. */
  def simhashNearDupProbed(hashes: DataFrame, maxHamming: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 7,
      s"4-band one-bit multiprobe guarantees recall only to Hamming 7, " +
        s"got $maxHamming")
    val groups = hashes.groupBy(col("simhash"))
      .agg(collect_list(col("doc_id")).as("__members"))
      .withColumn("__gid", array_min(col("__members")))
      .lineageCut() // feeds probe/index/member expansion (6 reads);
                         // ContextCleaner-reclaimed on GC, no CacheManager
                         // residue across invocations (r12 advice)
    val bands = groups.select(col("__gid"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), 12 * k).bitwiseAND(4095)): _*))
        .as(Seq("__kk", "__h")))
    // probe/index checkpointed: the capped join's count pass + join pass
    // each read them, and the 13×-exploded index is the expensive one to
    // recompute (measured +0.6 s on q158 when left lazy); blocks are
    // ContextCleaner-reclaimed like every transient in this file
    val probe = bands.select(col("__gid").as("__xa"),
      col("simhash").as("__sha"),
      (col("__kk") * 4096 + col("__h")).cast("long").as("__k"))
      .lineageCut()
    val index = bands
      .select(col("__gid"), col("simhash"), col("__kk"),
        explode(concat(array(col("__h")),
          expr("transform(sequence(0, 11), j -> __h ^ shiftleft(1, j))")))
          .as("__hv"))
      .select(col("__gid").as("__xb"), col("simhash").as("__shb"),
        (col("__kk") * 4096 + col("__hv")).cast("long").as("__k"))
      .lineageCut()
    val verified = cappedProbeIndexJoin(probe, index, maxBucket)
      .filter(col("__xa") < col("__xb"))
      .select(col("__xa"), col("__xb"), col("__sha"), col("__shb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__sha").bitwiseXOR(col("__shb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("__xa"), col("__xb"), col("hamming"))
    val ga = groups.select(col("__gid").as("__xa"),
      col("__members").as("__mem_a"))
    val gb = groups.select(col("__gid").as("__xb"),
      col("__members").as("__mem_b"))
    val cross = verified.join(ga, "__xa").join(gb, "__xb")
      .select(explode(col("__mem_a")).as("__x"), col("__mem_b"),
        col("hamming"))
      .select(col("__x"), explode(col("__mem_b")).as("__y"), col("hamming"))
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"), col("hamming"))
    val intra = groups.filter(size(col("__members")) >= 2)
      .select(explode(col("__members")).as("__x"), col("__members"))
      .select(col("__x"), explode(col("__members")).as("__y"))
      .filter(col("__x") < col("__y"))
      .select(col("__x").as("id_a"), col("__y").as("id_b"),
        lit(0L).as("hamming"))
    cross.union(intra)
  }

  /** q158: multiprobe SimHash near-dup pairs over `documents` at
    * Hamming ≤ 7 — recall-guaranteed by the probe construction (plain
    * 4-band LSH would silently drop a pair whose 4-7 flipped bits touch
    * every band). */
  private val q158: Q = (s, dir) => {
    import s.implicits._
    simhashNearDupProbed(
      simhash(Tables(s, dir, "documents"), "doc_id", "text"),
      maxHamming = 7)
      .orderBy($"id_a", $"id_b")
  }
  private val q158Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${tokenHashSql("tok")} AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, bit,
       |    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th CROSS JOIN (SELECT unnest(range(0, $SimHashBits)) AS bit) b
       |  GROUP BY doc_id, bit),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
       |             ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id),
       |ident AS (
       |  SELECT doc_id, simhash,
       |    k * 4096 + ((simhash >> (12 * k)) & 4095) AS key
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS k) kk),
       |ext AS (
       |  SELECT doc_id, simhash, key FROM ident
       |  UNION ALL
       |  SELECT doc_id, simhash,
       |    k * 4096 + xor((simhash >> (12 * k)) & 4095, 1 << j) AS key
       |  FROM sh
       |  CROSS JOIN (SELECT unnest(range(0, 4)) AS k) kk
       |  CROSS JOIN (SELECT unnest(range(0, 12)) AS j) jj),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sha,
       |    b.doc_id AS id_b, b.simhash AS shb
       |  FROM ident a JOIN ext b
       |    ON a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sha, shb)) <= 7
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Order-sensitive near-dup via 2-gram shingle MinHash-LSH: documents
    * that share vocabulary but not word order (which unigram Jaccard, q36,
    * calls identical) only match here when their token SEQUENCES overlap.
    * Same pipeline, shingle token unit, large vocab → general array path. */
  private val q60: Q = (s, dir) => {
    import s.implicits._
    // split hoisted into a projected column so every shingle evaluation
    // references the array instead of re-splitting the text
    val withWords = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("__words"))
    minhashNearDupTokens(withWords, "doc_id",
      shingles($"__words", 2), numHashes = 16, bands = 4, threshold = 0.8)
      .orderBy($"id_a", $"id_b")
  }
  private val q60Sql: String =
    lshPipelineSql(shingleSetSql("text"), 16, 4, 0.8)

  // --------------------------------------------------------------- q143
  /** EXACT set-similarity join via prefix filtering — the deterministic
    * complement to the MinHash-LSH family: q36/q60 trade recall for
    * constant-size signatures; this operator returns EVERY pair with
    * Jaccard ≥ τ, guaranteed, and still never compares all pairs.
    *
    * The algorithm (Chaudhuri et al. ICDE'06 SSJoin; Bayardo et al.
    * WWW'07 All-Pairs; Vernica et al. SIGMOD'10 for the MapReduce
    * shape): order every document's element set by GLOBAL document
    * frequency ascending (rarest first, ties by element value — a total
    * order); a document of size s only indexes its first
    * s − ⌈τ·s⌉ + 1 elements (the "prefix"). Any pair with J ≥ τ has
    * |x∩y| ≥ τ·|x∪y| ≥ ⌈τ·max(|x|,|y|)⌉ shared elements, so skipping the
    * last ⌈τ·s⌉ − 1 of each side cannot skip the whole intersection —
    * two qualifying docs MUST share a prefix element. Candidates are an
    * equi-join on prefix elements (small buckets: prefixes hold the
    * RAREST elements of each doc on a Zipfian corpus), then the exact
    * Jaccard is verified on the full sets. Lossless by construction;
    * DedupOpsSpec pins equality against the all-pairs form.
    *
    * τ is taken as the integer ratio `tauNum/tauDen` and every pruning
    * predicate is INTEGER arithmetic (⌈τ·s⌉ = (tauNum·s + tauDen − 1) div
    * tauDen; J ≥ τ ⇔ tauDen·|∩| ≥ tauNum·|∪|) — no float rounding can
    * differ between engines; the reported `jaccard` is one exact-integer
    * division (correctly rounded IEEE, bit-identical cross-engine).
    *
    * Scale (100 TB): one explode + one (element) shuffle builds the df
    * order; the candidate join ships PREFIX rows only (≈ (1−τ)·set size
    * per doc) and routes through the capped [[bandSelfJoin]], so one
    * ultra-hot prefix element cannot pin a reducer. Candidate volume is
    * cut BEFORE the pair-distinct by the PPJoin-style LENGTH and
    * POSITIONAL filters (Xiao et al. WWW'08) — both lossless (the
    * positional bound holds at every occurrence, so a qualifying pair
    * always survives; derivation at the filter) — the r13 ×100 sweep's
    * scratch-exhaustion lever on low-selectivity vocabularies.
    * Verification is
    * ADAPTIVE on a vocabulary probe: a bounded element vocabulary
    * (≤ `bitmapMaxVocab`) verifies on dictionary-exact popcount bitmaps
    * carried as join payload — every candidate dies or survives inside
    * its reducer, and only output-sized survivors reach the pair
    * distinct (the tiny-vocab corpus where prefix buckets are large is
    * exactly where this matters); an open vocabulary falls back to
    * distinct-then-array-verify on the full sets. Both paths return
    * identical rows (spec-pinned). The all-pairs O(n²) form exists
    * nowhere in the plan. */
  def prefixSimilarityJoin(sets: DataFrame, idCol: String, setCol: String,
      tauNum: Int, tauDen: Int, maxBucket: Int = DefaultMaxBucket,
      // 1<<16 (8 KB mask ceiling), matching minhashNearDupTokens: the
      // r13 tier probe measured the in-reducer bitmap verify at 9310
      // elements 3-10x FASTER than the open-vocab distinct+array tier
      // (prefix 7.4 vs 25 s, containment 10.5 vs 107 s at 10x sf0.1) —
      // a bounded vocabulary is exactly where candidates are densest,
      // so the cheap verify matters most there
      bitmapMaxVocab: Long = DefaultBitmapMaxVocab,
      // > 1 = out-of-core: run the open tier's candidate space in this
      // many sequential id-hash slices, reclaiming scratch between them
      // (see [[fragmented]]; result-identical, spec-pinned; the bitmap
      // tier ignores it — its candidates die in-reducer and never spill
      // a pair stream)
      fragments: Int = 1,
      // auto mode's observed-resident replan callback ([[dedupResize]]);
      // None (explicit counts, specs) = run exactly `fragments` passes
      resize: Option[Long => Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // array_distinct: the size/overlap arithmetic below (prefix length,
    // |∪| = sz_a + sz_b − |∩|) is SET arithmetic — an input array with
    // duplicate elements would count multiplicity and silently void the
    // lossless guarantee, so distinctness is enforced here, not assumed
    val s = sets.select(col(idCol).as("__id"),
        array_distinct(col(setCol)).as("__set"))
      .filter(size(col("__set")) > 0)
      .lineageCut() // feeds the df build, the prefix explode, and
                 // both verify branches — one tokenize/shingle pass
                 // total; ContextCleaner-reclaimed (r12 advice)
    val ex = s.select(col("__id"), size(col("__set")).as("__sz"),
      explode(col("__set")).as("__el"))
    val dfreq = ex.groupBy(col("__el")).agg(count(lit(1)).as("__df"))
      .lineageCut() // vocab-sized; feeds the probe, the rank join,
                 // and (small-vocab tier) the dictionary
    // adaptive-verify probe (same eager-decision pattern as the LSH
    // bucket cap): with a bounded element vocabulary, verification can
    // run on dictionary-exact bitmaps INSIDE the candidate join — the
    // worst case for prefix filtering is exactly a tiny vocabulary
    // (every element frequent → large prefix buckets), and there the
    // candidate stream must die in-reducer, before any pair distinct
    val vocabSize = dfreq.count()
    // rank each doc's elements rarest-first; keep the prefix
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__df").asc, col("__el").asc)
    // integer ⌈τ·s⌉ via (num·s + den − 1) div den — IntegralDivide, not
    // double-divide-then-truncate, so the predicate is genuinely
    // integral at any magnitude (no 2^53 mantissa cliff)
    val ceilTauSz =
      expr(s"(CAST(__sz AS BIGINT) * $tauNum + ${tauDen - 1}) div $tauDen")
    val prefix = ex.join(dfreq, "__el")
      .withColumn("__pos", row_number().over(w))
      .filter(col("__pos") <= col("__sz") - ceilTauSz + 1)
      .select(col("__id"), lit(0).as("__bidx"),
        PortableHash.tokenHashP(col("__el")).as("__bhash"), col("__sz"),
        col("__pos"))
      // bandSelfJoin reads its input in an eager skew probe PLUS both
      // join sides (and the out-of-core path re-runs the candidate join
      // once per slice) — without this cut every one of those reads
      // re-ran the rank window + dfreq join (the same up-to-4× breach
      // r13 advice closed in containmentJoin; r14 advice flagged this
      // twin). Prefix rows are narrow (id, band, hash, sz, pos), so the
      // materialization is cheap; each pass is then a block read.
      // Non-replicated executor-loss trade: see bandSelfJoin's note.
      .lineageCut()
    // length filter: J ≥ τ needs den·min(sz) ≥ num·max(sz)
    def lengthOk(p: DataFrame): DataFrame =
      p.filter(col("__sz_a") * tauDen >= col("__sz_b") * tauNum &&
        col("__sz_b") * tauDen >= col("__sz_a") * tauNum)
    // POSITIONAL filter (the PPJoin bound — Xiao et al. WWW'08): a
    // candidate occurrence meets on a common element at rarest-first
    // positions (pa, pb). Both docs' element lists are sorted by the
    // SAME global total order, so any OTHER common element either
    // precedes this one in both lists (at most min(pa,pb) − 1 of
    // those) or follows it in both (at most min(sz_a−pa, sz_b−pb)), so
    //   |∩| ≤ min(pa,pb) + min(sz_a−pa, sz_b−pb).
    // J ≥ τ forces |∩|·(num+den) ≥ num·(sz_a+sz_b); an occurrence
    // whose bound misses that cannot witness a qualifying pair.
    // LOSSLESS without first-match bookkeeping: the bound is valid at
    // EVERY occurrence (not only the pair's first common element), so
    // a qualifying pair — whose true overlap meets the mark — passes
    // at every occurrence it generates and survives the pre-distinct
    // prune; only non-qualifying candidate volume dies. This is the
    // r13 ×100 lever: the plain prefix filter keeps every co-prefix
    // pair, and on a low-selectivity vocabulary that stream exceeded
    // single-node scratch (SURVEY ×100 table, q143/q151); the bound
    // kills most of it before the pair-distinct shuffle.
    def positionalOk(p: DataFrame): DataFrame = {
      val bound = least(col("__pos_a"), col("__pos_b")) +
        least(col("__sz_a") - col("__pos_a"),
          col("__sz_b") - col("__pos_b"))
      p.filter(bound.cast("long") * (tauNum + tauDen) >=
        (col("__sz_a") + col("__sz_b")).cast("long") * tauNum)
    }

    if (vocabSize > 0 && vocabSize <= bitmapMaxVocab) {
      // small-vocab tier: each set is ⌈vocab/64⌉ longs
      // (graft.functions.Bitmap — codegen popcount kernels, identical
      // counts), carried as PAYLOAD through the capped self-join so
      // every candidate row verifies in its reducer; only survivors
      // (output-sized, not candidate-sized) reach the pair distinct
      import graft.functions.{Bitmap, TokenBitmask}
      val dict = TokenBitmask.dictionary(dfreq, "__el")
        .select(col("__el"), col("__idx"))
      val words = ((vocabSize + 63) / 64).toInt
      val bitmaps = ex.select(col("__id"), col("__el"))
        .join(broadcast(dict), "__el")
        .groupBy(col("__id"))
        .agg(collect_list(col("__idx")).as("__p"))
        .select(col("__id"), Bitmap.fromPositions(col("__p"), words).as("__bm"))
        .lineageCut() // doc-sized; with `prefix` also cut, each of
                 // bandSelfJoin's reads (skew probe + both sides) is one
                 // hash join over materialized blocks — previously every
                 // read re-ran the collect_list aggregate (r14 advice)
      val inter = Bitmap.andCount(col("__bm_a"), col("__bm_b"))
      positionalOk(lengthOk(bandSelfJoin(prefix.join(bitmaps, "__id"),
          "__id", Seq("__sz", "__pos", "__bm"), maxBucket)))
        .withColumn("__i", inter)
        .withColumn("__u",
          (col("__sz_a") + col("__sz_b")).cast("long") - col("__i"))
        .filter(col("__i") * tauDen >= col("__u") * tauNum)
        .select(col("__ga").as("id_a"), col("__gb").as("id_b"),
          col("__i").as("n_common"), col("__u").as("n_union"))
        .distinct()
        .select(col("id_a"), col("id_b"), col("n_common"),
          (col("n_common").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
    } else {
      // open-vocab tier (the 100 TB default): candidates distinct
      // first, then exact array verification on the full sets; the
      // whole pair pipeline (join output → distinct → verify) runs
      // inside the fragment so an out-of-core run materializes only
      // each slice's VERIFIED output
      // `prefix` is checkpointed at its definition, so each slice's
      // candidate join (and bandSelfJoin's per-pass skew probe) re-reads
      // materialized prefix rows instead of re-running the rank window
      fragmented(fragments, resize) { sl =>
        val occ = positionalOk(lengthOk(bandSelfJoin(prefix, "__id",
            Seq("__sz", "__pos"), maxBucket)))
        val sliced = sl.fold(occ)(p => occ.filter(p(col("__ga"))))
        val cand = sliced
          .select(col("__ga").as("id_a"), col("__gb").as("id_b")).distinct()
        val a = s.select(col("__id").as("id_a"), col("__set").as("__seta"))
        val b = s.select(col("__id").as("id_b"), col("__set").as("__setb"))
        val inter = size(array_intersect(col("__seta"), col("__setb")))
          .cast("long")
        val uni = size(col("__seta")).cast("long") +
          size(col("__setb")).cast("long") - inter
        cand.join(a, "id_a").join(b, "id_b")
          .select(col("id_a"), col("id_b"), inter.as("n_common"),
            uni.as("n_union"),
            (inter.cast("double") / uni.cast("double")).as("jaccard"))
          .filter(col("n_common") * tauDen >= col("n_union") * tauNum)
          .drop("n_union")
      }
    }
  }

  /** Out-of-core pass runner for the open-vocab candidate tiers (the
    * r14 single-node-scratch lever): run the plan once per id-hash
    * slice of the PAIR space as its own eagerly-materialized pass
    * (`plan` receives the pass's slice predicate to apply to the
    * probe-side id), and RECLAIM the pass's shuffle files before the
    * next pass starts — peak scratch is one slice's candidate stream
    * plus the (output-sized) materialized results, not the whole
    * candidate stream at once. Every pair lands in exactly one pass
    * (the predicates partition the left-id hash space — plain slices,
    * or [[replanPasses]] ranges/sub-slices after an observed-resident
    * resize), so the union is the exact single-pass result —
    * spec-pinned. The trade: the candidate join's
    * INPUT (prefix rows — small by construction) re-shuffles once per
    * slice, and the operator becomes EAGER (passes run at call time).
    * fragments = 1 (the default everywhere) is the identity: one lazy
    * plan, zero overhead. A 1000-executor cluster never needs this —
    * its aggregate scratch absorbs a linear candidate stream — but a
    * single node running the ×100 sweep does (SURVEY §2.25).
    *
    * Shuffle reclamation: the checkpoint truncates the pass's lineage,
    * so its ShuffleDependencies are unreachable — but the
    * ContextCleaner frees them on GC, which is too late for a
    * scratch-bounded sequential run; `cleanShuffleDependencies` (public
    * RDD API since 3.1) walks the executed DAG and frees them
    * deterministically. `queryExecution.toRdd` is a lazy val, so it IS
    * the DAG instance the checkpoint executed. */
  private def fragmented(fragments: Int,
      resize: Option[Long => Int] = None)(
      plan: Option[Column => Column] => DataFrame): DataFrame = {
    require(fragments >= 1, s"fragments must be >= 1, got $fragments")
    if (fragments == 1) return plan(None)
    // slice by the left id's hash: xxhash64 here is a PARTITIONING
    // choice (which pass computes a pair), never a result value —
    // cross-engine portability is not required of it
    def h1(id: Column) = pmod(xxhash64(id), lit(fragments.toLong))
    def runPass(pred: Column => Column): DataFrame = {
      val pass = plan(Some(pred))
      val out = pass.lineageCut(eager = true) // output-sized; see the
                 // executor-loss note in bandSelfJoin
      pass.queryExecution.toRdd.cleanShuffleDependencies(blocking = true)
      out
    }
    val first = runPass(id => h1(id) === lit(0L))
    // with a resize callback (auto mode), pass 1 just materialized the
    // resident blocks the prior only estimated — measure them (storage
    // in use across executors) and replan the remaining slices from
    // the observation (r16 verdict #3)
    val restPreds: Seq[Column => Column] = resize match {
      case None =>
        (1 until fragments).map(f =>
          (id: Column) => h1(id) === lit(f.toLong))
      case Some(ideal) =>
        val sc = first.sparkSession.sparkContext
        val observed = sc.getExecutorMemoryStatus.values
          .iterator.map { case (max, rem) => math.max(0L, max - rem) }.sum
        val nIdeal = ideal(observed)
        val passes = replanPasses(fragments, nIdeal)
        Console.err.println(
          s"[graft] fragmented: pass 1/$fragments observed " +
            s"${observed >> 20} MiB resident -> ideal total $nIdeal; " +
            s"remaining ${fragments - 1} slices replanned into " +
            s"${passes.size} pass(es)")
        passes.map {
          case SliceRange(lo, hi) => (id: Column) =>
            if (hi - lo == 1) h1(id) === lit(lo.toLong)
            else h1(id) >= lit(lo.toLong) && h1(id) < lit(hi.toLong)
          case SubSlice(f, j, m) => (id: Column) =>
            h1(id) === lit(f.toLong) &&
              pmod(xxhash64(id, lit(1)), lit(m.toLong)) === lit(j.toLong)
        }
    }
    (first +: restPreds.map(runPass)).reduce(_ unionByName _)
  }

  /** q143: exact 2-gram-shingle Jaccard ≥ 0.8 join over `documents` —
    * the guaranteed-recall twin of q60 (which is MinHash-approximate at
    * the same threshold and unit): every returned pair is verified
    * exact, and every qualifying pair is returned. */
  /** Single-node out-of-core escape hatch for the registry's open-tier
    * dedup queries: SPARK_GRAFT_DEDUP_FRAGMENTS=N runs their candidate
    * space in N reclaimed-scratch passes ([[fragmented]]); =auto derives
    * N from the memory pool and the corpus size ([[autoFragments]]).
    * Plan shape only — the result is identical at any value
    * (spec-pinned), so the oracle compare is unaffected; default 1 =
    * the plain lazy plan. An env var rather than a parameter because
    * the driver contract fixes the registry signatures. */
  private[graft] def dedupFragments(s: SparkSession, dir: String,
      passFactor: Long): Int =
    parseFragments(sys.env.get("SPARK_GRAFT_DEDUP_FRAGMENTS"),
      autoFragments(s, dir, passFactor))

  /** Pure parse of the SPARK_GRAFT_DEDUP_FRAGMENTS value; `auto` is
    * by-name so the pool/corpus probe only runs when requested. Names
    * the env var in the failure — a bare NumberFormatException deep
    * inside query construction gives no hint what to fix. */
  private[graft] def parseFragments(raw: Option[String], auto: => Int): Int =
    raw match {
      case None         => 1
      case Some("auto") => auto
      case Some(n) =>
        val parsed = n.trim.toIntOption
        require(parsed.exists(_ >= 1),
          s"SPARK_GRAFT_DEDUP_FRAGMENTS='$n' is not valid: expected " +
            "'auto' (case-sensitive) or a positive integer fragment count")
        parsed.get
    }

  /** Auto-sized fragment count (r15 verdict #5 — the fragments-vs-
    * storage-pool trade was measured but hand-tuned). The model, with
    * every constant CALIBRATED on the ×100 matched-condition runs
    * (SURVEY §2.26) rather than derived from first principles:
    *
    *   pool      = (heap − 300 MiB reserved) × spark.memory.fraction
    *   resident  ≈ ResidentFactor × input      (the corpus-sized ranked/
    *               bitmap blocks every pass re-reads; ResidentFactor =
    *               800× parquet bytes — the ×100 corpus is 62 MB on
    *               disk and its blocks overflow a 38 GB pool (the
    *               measured 2.4× spill wall at -Xmx64g) while fitting
    *               ~50 GB inside the 57 GB pool at -Xmx96g)
    *   headroom  = pool − resident             (what one pass's
    *               candidate stream may occupy)
    *   fragments = ceil(passFactor × input / headroom), clamped [1, 64]
    *
    * `passFactor` is the operator's candidate-stream bytes per input
    * byte at fragments = 1, calibrated so the auto pick reproduces the
    * measured-good hand tunings at ×100/96g: containment (q151) 4600
    * → 24, prefix-similarity (q143) 1500 → 8. When the pool cannot even
    * hold the resident blocks (headroom below a 15%-of-pool floor) the
    * sizer WARNS that the run is in the predicted spill regime — the
    * measured 2.4× wall — and sizes against the floor; it does not
    * refuse, because the result stays exact, only slower. At test SFs
    * the input term vanishes and auto = 1 (the plain lazy plan), and a
    * real multi-executor cluster never sets `auto` at all — its
    * aggregate scratch absorbs the linear candidate stream
    * (the fragment path is the single-node-sandbox artifact). */
  private def poolAndInput(s: SparkSession, dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val input = fs.getContentSummary(p).getLength
    val frac = s.conf.get("spark.memory.fraction", "0.6").toDouble
    val pool =
      ((Runtime.getRuntime.maxMemory - (300L << 20)) * frac).toLong
    (pool, input)
  }

  private[graft] def autoFragments(s: SparkSession, dir: String,
      passFactor: Long): Int = {
    val (pool, input) = poolAndInput(s, dir)
    sizeFragments(pool, input, passFactor, warnAt = dir,
      cores = s.sparkContext.defaultParallelism)
  }

  /** Observed-resident resize callback for [[fragmented]] (r16 verdict
    * #3): the 800×-input resident prior is a SINGLE-CORPUS calibration
    * — a longer-document or wider-vocab corpus breaks it silently. In
    * auto mode, [[fragmented]] measures the ACTUAL resident block
    * footprint after its first pass (executor storage in use — the
    * ranked/bitmap blocks every pass re-reads are materialized by
    * then) and calls back here to re-derive the ideal total fragment
    * count from the OBSERVATION, keeping the calibrated prior only for
    * pass 1. Explicit fragment counts (hand tunings, specs) never
    * resize — plan shape stays exactly what was asked for. */
  private[graft] def dedupResize(s: SparkSession, dir: String,
      passFactor: Long): Option[Long => Int] =
    if (!sys.env.get("SPARK_GRAFT_DEDUP_FRAGMENTS").contains("auto")) None
    else Some { observedResident =>
      val (pool, input) = poolAndInput(s, dir)
      sizeFragments(pool, input, passFactor, warnAt = dir,
        observedResidentBytes = Some(observedResident),
        cores = s.sparkContext.defaultParallelism)
    }

  /** Pure core of [[autoFragments]] — the formula alone, so the
    * calibration anchors are unit-pinnable without a 96 GB JVM. With
    * `observedResidentBytes` (the post-pass-1 measurement, r16 verdict
    * #3) the 800×-input resident PRIOR is replaced by the observation;
    * everything else — the per-pass stream budget, the 15%-pool floor,
    * the spill warning, the [1, 64] clamp — is shared, so the observed
    * path is the same formula with a measured term, not a second model.
    *
    * TWO constraints bound a pass's candidate stream, and the tighter
    * one sizes the pass:
    *  - STORAGE headroom (pool − resident): when resident blocks crowd
    *    the pool, a bigger pass evicts them and pays the measured 2.4×
    *    re-read wall — the term the r15/r16 ×100 calibrations carried;
    *  - a per-pass STREAM BUDGET of [[StreamBudgetPerCore]] × cores
    *    (12 GiB at 32 cores), binding only on the OBSERVED path, when
    *    the measurement reveals far more headroom than the prior
    *    assumed. This is a CONSERVATISM bound, not a measured optimum:
    *    the validated ×100 anchors ran their passes at ~11.1 GiB
    *    (containment, 24 frags) and ~11.6 GiB (prefix-sim, 8), so the
    *    budget keeps a post-observation merge inside the per-pass
    *    regime the evidence actually covers instead of extrapolating
    *    to a few giant passes no run has validated. The open-tier ×10
    *    check (stretch-8 long-doc corpus, 139k shingle vocab, 56 g
    *    heap, SURVEY §2.28): the prior over-estimated resident 30×
    *    (50431 MiB predicted, 1663 MiB observed), the observation
    *    re-planned 19 → 8 passes, rows exact (2480) — but walls across
    *    auto/4/8/16/19 fragments all fell inside that day's 1.6–1.9×
    *    plan-identical noise band (auto itself: 749 s then 462 s on
    *    identical plans), so ×10 walls cannot rank pass counts; only
    *    exactness and the anchor arithmetic are claimed.
    * At the ×100/96g anchors headroom (11.2 GiB) is barely the tighter
    * term, so the calibrated picks 24/8 are unchanged by the budget. */
  private[graft] val StreamBudgetPerCore: Long = 384L << 20
  private[graft] def sizeFragments(poolBytes: Long, inputBytes: Long,
      passFactor: Long, warnAt: String = "",
      observedResidentBytes: Option[Long] = None,
      cores: Int = 32): Int = {
    val ResidentFactor = 800L
    val floor = (poolBytes * 0.15).toLong
    val resident =
      observedResidentBytes.getOrElse(ResidentFactor * inputBytes)
    val headroom = poolBytes - resident
    if (headroom < floor)
      Console.err.println(
        s"[graft] autoFragments: predicted SPILL REGIME at '$warnAt' — " +
          s"resident block ${if (observedResidentBytes.isDefined) "observation"
            else "estimate"} ${resident >> 20} " +
          s"MiB vs pool ${poolBytes >> 20} MiB. Fragmenting against the " +
          "floor, but per-pass block re-reads will come from disk (the " +
          "measured 2.4x wall); grow executor memory if possible.")
    val budget =
      math.min(StreamBudgetPerCore * cores, math.max(headroom, floor))
    val n = math.ceil(
      passFactor.toDouble * inputBytes / budget).toLong
    math.min(64L, math.max(1L, n)).toInt
  }

  /** How [[fragmented]] covers slices 1..n0−1 after the observed-
    * resident resize says the ideal TOTAL count is `nIdeal` (pass 1
    * already ran as slice 0 of n0). Pure, spec-pinned: the passes
    * partition the remaining id-hash space exactly, in both
    * directions —
    *  - nIdeal ≤ n0 (prior over-fragmented: corpus lighter than the
    *    calibration): MERGE — the n0−1 remaining slices group into
    *    max(1, nIdeal−1) contiguous [[SliceRange]] passes, sizes as
    *    even as integer division allows;
    *  - nIdeal > n0 (prior under-fragmented: the silent-break case the
    *    observation exists to catch): SPLIT — each remaining slice
    *    runs as ⌈nIdeal/n0⌉ [[SubSlice]] passes cut by an independent
    *    secondary hash. */
  private[graft] sealed trait SlicePass
  private[graft] final case class SliceRange(lo: Int, hi: Int)
    extends SlicePass
  private[graft] final case class SubSlice(f: Int, j: Int, m: Int)
    extends SlicePass

  private[graft] def replanPasses(n0: Int, nIdeal: Int): Seq[SlicePass] = {
    val remaining = n0 - 1
    if (remaining <= 0) Nil
    else if (nIdeal <= n0 || math.round(nIdeal.toDouble / n0) < 2) {
      // nIdeal passes for the WHOLE space; pass 1 already covered 1/n0
      // of it, so the remaining (n0−1)/n0 share gets its proportional
      // pass count (ceil — a pass may run under budget, never over by
      // more than the slice quantum). The second disjunct is the
      // marginal-overshoot guard: nIdeal in (n0, 1.5·n0) rounds to one
      // pass per remaining slice (k caps at `remaining`) instead of
      // DOUBLING the pass count through a 2-way split for a <50%
      // budget overshoot.
      val k = math.min(remaining,
        math.max(1, math.ceil(remaining.toDouble * nIdeal / n0).toInt))
      val g = remaining / k
      val r = remaining % k
      val bounds = (0 to k).map(i => 1 + i * g + math.min(i, r))
      (0 until k).map(i => SliceRange(bounds(i), bounds(i + 1)))
    } else {
      // round to the NEAREST whole subslice multiple (≥ 2 by the
      // branch guard) — ceil here would overshoot the budget model by
      // up to a full n0 passes for a fractional excess
      val m = math.round(nIdeal.toDouble / n0).toInt
      for (f <- 1 until n0; j <- 0 until m) yield SubSlice(f, j, m)
    }
  }

  private val q143: Q = (s, dir) => {
    import s.implicits._
    val withWords = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("__words"))
    val sets = withWords.select($"doc_id", shingles($"__words", 2).as("sh"))
    prefixSimilarityJoin(sets, "doc_id", "sh", 4, 5,
        fragments = dedupFragments(s, dir, passFactor = 1500L),
        resize = dedupResize(s, dir, passFactor = 1500L))
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy($"doc_a", $"doc_b")
  }
  private val q143Sql: String =
    s"""WITH sets AS (
       |  SELECT doc_id, ${shingleSetSql("text")} AS sh FROM documents),
       |sz AS (SELECT doc_id, sh, len(sh) AS sz FROM sets WHERE len(sh) > 0),
       |ex AS (SELECT doc_id, sz, unnest(sh) AS el FROM sz),
       |dfreq AS (SELECT el, COUNT(*) AS df FROM ex GROUP BY el),
       |ranked AS (
       |  SELECT e.doc_id, e.sz, e.el,
       |    ROW_NUMBER() OVER (PARTITION BY e.doc_id
       |                       ORDER BY d.df ASC, e.el ASC) AS pos
       |  FROM ex e JOIN dfreq d USING (el)),
       |prefix AS (
       |  SELECT * FROM ranked
       |  WHERE pos <= sz - ((4 * sz + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM prefix a JOIN prefix b
       |    ON a.el = b.el AND a.doc_id < b.doc_id
       |  WHERE a.sz * 5 >= b.sz * 4 AND b.sz * 5 >= a.sz * 4),
       |v AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
       |    CAST(len(x.sh) + len(y.sh)
       |         - len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_union
       |  FROM cand c
       |  JOIN sz x ON x.doc_id = c.doc_a
       |  JOIN sz y ON y.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM v WHERE n_common * 5 >= n_union * 4
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------ containment join
  /** Skew-capped asymmetric equi-join on a key — the probe × index
    * generalization of [[bandSelfJoin]]'s block decomposition: per-key
    * probe×index products over maxBucket² split each side of the hot
    * key into ⌈n/maxBucket⌉ id-hash blocks, and every (probe block,
    * index block) pair ships to its own reducer — each (probe row,
    * index row) pair meets exactly once, per-reducer input bounded by
    * 2·maxBucket rows, output identical to the plain join. Candidate
    * rows repeat once per shared key (callers distinct).
    *
    * ZERO Dataset caches (the r12 storage-residue fix): the eager
    * decision probe asks only "does any hot key exist" (aggregate-only
    * passes over both sides — callers hand in localCheckpoint'ed
    * frames, or narrow projections of one, so the probe reads blocks,
    * not the upstream pipeline; r13 advice closed the two callers that
    * handed in un-cut window/aggregate frames).
    * The common cold case returns the plain equi-join with zero
    * overhead; the hot case routes the block table — hot keys only,
    * skew-small by definition — through a BROADCAST left join, where a
    * key with no block row coalesces to the 1×1 identity blocking.
    * The broadcast assumes the HOT-key set is driver-small: keys whose
    * pair product exceeds maxBucket² are by construction a vanishing
    * fraction of a key-hashed distribution (each needs > maxBucket²
    * candidate pairs), so the block table is a few rows per genuine
    * skew spike — millions of simultaneously-hot keys would mean the
    * join is effectively a cross product and no pair-enumerating plan
    * survives that input anyway.
    * Nothing enters the CacheManager, so an embedding caller
    * accumulates no executor storage across invocations.
    *
    * Contract: the join key must be named `__k`; hot-key block routing
    * hashes each side's ID column — `probeIdCol` / `indexIdCol`
    * (defaults `__xa` / `__xb`), which must exist on the respective
    * side. `indexCounts`, when supplied, must be exactly
    * (`__k`, `__ic` = index row count per key) — callers whose index is
    * invariant across repeated calls (the out-of-core fragment loop
    * re-enters once per slice) hand in a checkpointed count frame so the
    * corpus-sized count aggregation runs ONCE, not once per call; the
    * containment caller derives it from the vocab-sized `dfreq` without
    * touching the exploded index at all (r14 advice: this count pass was
    * the fragment-loop's hidden multiplier). */
  private def cappedProbeIndexJoin(probe: DataFrame, index: DataFrame,
      maxBucket: Int, probeIdCol: String = "__xa",
      indexIdCol: String = "__xb",
      indexCounts: Option[DataFrame] = None): DataFrame = {
    require(probe.columns.contains(probeIdCol) &&
        index.columns.contains(indexIdCol),
      s"cappedProbeIndexJoin routes hot-key blocks by hashing " +
        s"'$probeIdCol' (probe) / '$indexIdCol' (index); pass " +
        "probeIdCol/indexIdCol for differently-named id columns")
    indexCounts.foreach(c => require(c.columns.sameElements(Array("__k", "__ic")),
      s"indexCounts must be exactly (__k, __ic), got ${c.columns.mkString(",")}"))
    val pCols = probe.columns.filterNot(_ == "__k").map(col).toSeq
    val iCols = index.columns.filterNot(_ == "__k").map(col).toSeq
    val pc = probe.groupBy(col("__k")).agg(count(lit(1)).as("__pc"))
    val ic = indexCounts.getOrElse(
      index.groupBy(col("__k")).agg(count(lit(1)).as("__ic")))
    // keys whose pair product exceeds the cap — the skewed few
    val blkHot = pc.join(ic, "__k")
      .filter(col("__pc") * col("__ic") > maxBucket.toLong * maxBucket)
      .select(col("__k"),
        greatest(ceil(col("__pc") / maxBucket), lit(1L)).as("__bp"),
        greatest(ceil(col("__ic") / maxBucket), lit(1L)).as("__bi"))
      .lineageCut() // decision-sized; read by isEmpty + both sides
    if (blkHot.isEmpty)
      return probe.join(index, "__k").select(pCols ++ iCols: _*)
    // probe row: its own p-block, replicated across the index blocks;
    // index row: its own i-block, replicated across the probe blocks;
    // a cold key (no block row) coalesces to the 1×1 identity blocking
    val pB = probe.join(broadcast(blkHot), Seq("__k"), "left")
      .select(pCols ++ Seq(col("__k"),
        pmod(xxhash64(col(probeIdCol)), coalesce(col("__bp"), lit(1L)))
          .as("__p"),
        explode(sequence(lit(0L), coalesce(col("__bi"), lit(1L)) - 1))
          .as("__i")): _*)
    val iB = index.join(broadcast(blkHot), Seq("__k"), "left")
      .select(iCols ++ Seq(col("__k"),
        pmod(xxhash64(col(indexIdCol)), coalesce(col("__bi"), lit(1L)))
          .as("__i"),
        explode(sequence(lit(0L), coalesce(col("__bp"), lit(1L)) - 1))
          .as("__p")): _*)
    pB.join(iB, Seq("__k", "__p", "__i"))
      .select(pCols ++ iCols: _*)
  }

  /** Exact CONTAINMENT join: every ORDERED pair (inner → outer) with
    * C(inner → outer) = |inner ∩ outer| / |inner| ≥ τ — the asymmetric
    * twin of [[prefixSimilarityJoin]], detecting subset/quotation
    * relationships Jaccard misses (a 10-shingle quote inside a
    * 1000-shingle article has Jaccard ≈ 0.01 but containment 1.0).
    *
    * Prefix filtering is ASYMMETRIC here (the SSJoin'06 containment
    * form): a qualifying (inner → outer) pair shares ≥ t = ⌈τ·|inner|⌉
    * elements, and by pigeonhole on the INNER side alone, inner's
    * global-order prefix of length |inner| − t + 1 must contain a
    * shared element — the outer side needs no prefix at all. So the
    * candidate join probes each doc's OWN prefix (its ⌈(1−τ)·sz⌉+1
    * rarest elements — never the corpus-global worst case a symmetric
    * scheme would force when one tiny doc exists) against the FULL
    * inverted index, producing ordered candidates directly; each is
    * verified once with integer arithmetic (den·|∩| ≥ num·sz_inner).
    * Candidate volume is cut pre-distinct by the asymmetric LENGTH
    * filter (den·sz_outer ≥ num·sz_inner) and the PPJoin POSITIONAL
    * bound (both lossless; derivation at the filter).
    * Hot elements route through [[cappedProbeIndexJoin]] (prefixes
    * hold each doc's RAREST elements, so a corpus-hot element appears
    * on the probe side only for docs whose other elements are hotter
    * still — the product skew the cap bounds). `minSize` drops sets
    * smaller than the smallest contained side the caller cares about.
    *
    * Verification is ADAPTIVE on the same vocabulary probe as
    * [[prefixSimilarityJoin]]: a bounded element vocabulary — exactly
    * the corpus where prefix filtering has no selectivity and the
    * candidate stream is largest — verifies on dictionary-exact
    * popcount bitmaps INSIDE the candidate join, so every losing
    * candidate dies in its reducer and only output-sized survivors
    * reach the pair distinct; an open vocabulary falls back to
    * distinct-then-array-verify. Both paths return identical rows
    * (spec-pinned). */
  def containmentJoin(sets: DataFrame, idCol: String, setCol: String,
      tauNum: Int, tauDen: Int, minSize: Int = 1,
      maxBucket: Int = DefaultMaxBucket,
      bitmapMaxVocab: Long = DefaultBitmapMaxVocab,
      // > 1 = out-of-core open tier, as in [[prefixSimilarityJoin]];
      // here the slice filter applies to the PROBE side directly (the
      // probe id IS the pair's left id), so it also cuts the candidate
      // join's input, not just its output
      fragments: Int = 1,
      resize: Option[Long => Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sets.select(col(idCol).as("__id"),
        array_distinct(col(setCol)).as("__set"))
      .filter(size(col("__set")) >= math.max(minSize, 1))
      .lineageCut() // ContextCleaner-reclaimed (r12 advice)
    val ex = s.select(col("__id"), size(col("__set")).as("__sz"),
      explode(col("__set")).as("__el"))
    val dfreq = ex.groupBy(col("__el")).agg(count(lit(1)).as("__df"))
      .lineageCut() // vocab-sized; feeds the probe, the rank join,
                 // and (small-vocab tier) the dictionary
    val vocabSize = dfreq.count()
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__df").asc, col("__el").asc)
    // each doc's own t = ⌈τ·sz⌉ via integral arithmetic
    val ceilTauSz =
      expr(s"(CAST(__sz AS BIGINT) * $tauNum + ${tauDen - 1}) div $tauDen")
    // Rank ONCE over the full exploded corpus: the probe prefix is a
    // filter of this frame, and the index side now carries the rank too
    // (the positional filter below needs it). The lineage cut matters
    // doubly here — cappedProbeIndexJoin reads each side in a count
    // pass AND a join pass, and without the cut every read re-ran this
    // window + the dfreq join (up to ~4×, r13 advice); with it, the
    // probe/index frames below are NARROW projections of materialized
    // blocks (zero shuffle to re-derive). Non-replicated executor-loss
    // trade: see the note in bandSelfJoin.
    val ranked = ex.join(dfreq, "__el")
      .withColumn("__pos", row_number().over(w))
      .lineageCut()
    // Index-side key counts for the capped join, derived from the
    // VOCAB-sized dfreq (ic per __k = Σ __df over elements hashing to
    // __k) instead of re-aggregating the corpus-sized exploded index —
    // both tiers' index frames carry exactly one row per (doc, element)
    // occurrence, so the sums are identical by construction. Hoisted
    // and checkpointed because the frame is FRAGMENT-INVARIANT: the
    // out-of-core loop re-enters cappedProbeIndexJoin once per slice,
    // and without the hoist each entry's eager hot-key probe re-ran a
    // full corpus count pass (24 extra corpus scans at ×100/q151 —
    // r14 advice's recompute multiplier).
    val indexCounts = dfreq
      .groupBy(PortableHash.tokenHashP(col("__el")).as("__k"))
      .agg(sum(col("__df")).as("__ic"))
      .lineageCut()
    val prefixIds = ranked
      .filter(col("__pos") <= col("__sz") - ceilTauSz + 1)
      .select(col("__id"), col("__el"), col("__sz"), col("__pos"))
    // candidate filters, both lossless (spec-pinned vs all-pairs):
    // LENGTH — |∩| ≤ sz_outer, so C ≥ τ needs den·sz_outer ≥
    // num·sz_inner; POSITIONAL (PPJoin bound, same derivation as
    // prefixSimilarityJoin's: both element lists share one global
    // order, so the bound holds at EVERY occurrence) —
    //   |∩| ≤ min(pa, pb) + min(sz_a−pa, sz_b−pb) ≥ ⌈τ·sz_a⌉,
    // integer form bound·den ≥ num·sz_a. A qualifying pair's true
    // overlap meets the mark at every occurrence it generates, so the
    // pre-distinct prune only kills non-qualifying candidate volume —
    // the r13 ×100 scratch-exhaustion lever (SURVEY ×100 table, q151).
    def candOk(p: DataFrame): DataFrame = {
      val bound = least(col("__pa"), col("__pb")) +
        least(col("__sza") - col("__pa"), col("__szb") - col("__pb"))
      p.filter(col("__xa") =!= col("__xb"))
        .filter(col("__szb").cast("long") * tauDen >=
          col("__sza").cast("long") * tauNum)
        .filter(bound.cast("long") * tauDen >=
          col("__sza").cast("long") * tauNum)
    }

    if (vocabSize > 0 && vocabSize <= bitmapMaxVocab) {
      import graft.functions.{Bitmap, TokenBitmask}
      val dict = TokenBitmask.dictionary(dfreq, "__el")
        .select(col("__el"), col("__idx"))
      val words = ((vocabSize + 63) / 64).toInt
      val bitmaps = ex.select(col("__id"), col("__el"))
        .join(broadcast(dict), "__el")
        .groupBy(col("__id"))
        .agg(collect_list(col("__idx")).as("__p"))
        .select(col("__id"), Bitmap.fromPositions(col("__p"), words).as("__bm"))
        .lineageCut() // one aggregate feeds BOTH join sides (r13
                 // advice: was recomputed per capped-join pass)
      val probe = prefixIds.join(bitmaps, "__id")
        .select(col("__id").as("__xa"),
          PortableHash.tokenHashP(col("__el")).as("__k"),
          col("__sz").as("__sza"), col("__pos").as("__pa"),
          col("__bm").as("__bma"))
        .lineageCut() // the capped join's count + join passes each
                 // read it; the cut makes the bitmap join run once
      // deliberately NOT checkpointed: the index is the full exploded
      // corpus × an up-to-8KB bitmap per row — materializing it costs
      // more than the recompute it would save (measured +54% on the ×10
      // tier probe), and with `ranked` and `bitmaps` both cut, each of
      // the capped join's passes re-derives it with ONE hash join over
      // materialized blocks
      val index = ranked.join(bitmaps, "__id")
        .select(col("__id").as("__xb"),
          PortableHash.tokenHashP(col("__el")).as("__k"),
          col("__sz").as("__szb"), col("__pos").as("__pb"),
          col("__bm").as("__bmb"))
      candOk(cappedProbeIndexJoin(probe, index, maxBucket,
          indexCounts = Some(indexCounts)))
        .withColumn("__i", Bitmap.andCount(col("__bma"), col("__bmb")))
        .filter(col("__i") * tauDen >= col("__sza") * tauNum)
        .select(col("__xa"), col("__xb"), col("__sza"), col("__i"))
        .distinct() // survivors only — output-sized, never candidate-sized
        .select(col("__xa").as("inner_id"), col("__xb").as("outer_id"),
          col("__i").as("n_common"),
          (col("__i").cast("double") / col("__sza").cast("double"))
            .as("containment"))
    } else {
      // both sides are NARROW projections of the checkpointed `ranked`
      // — the capped join's repeated passes re-read materialized
      // blocks, never the window/dfreq pipeline (r13 advice)
      val index = ranked.select(col("__id").as("__xb"),
        PortableHash.tokenHashP(col("__el")).as("__k"),
        col("__sz").as("__szb"), col("__pos").as("__pb"))
      fragmented(fragments, resize) { sl =>
        val probe = sl.fold(prefixIds)(p => prefixIds.filter(p(col("__id"))))
          .select(col("__id").as("__xa"),
            PortableHash.tokenHashP(col("__el")).as("__k"),
            col("__sz").as("__sza"), col("__pos").as("__pa"))
        val cand = candOk(cappedProbeIndexJoin(probe, index, maxBucket,
            indexCounts = Some(indexCounts)))
          .select(col("__xa"), col("__xb")).distinct()
        val a = s.select(col("__id").as("__xa"), col("__set").as("__seta"))
        val b = s.select(col("__id").as("__xb"), col("__set").as("__setb"))
        cand.join(a, "__xa").join(b, "__xb")
          .select(col("__xa"), col("__xb"),
            size(col("__seta")).cast("long").as("__sza"),
            size(array_intersect(col("__seta"), col("__setb")))
              .cast("long").as("n_common"))
          .filter(col("n_common") * tauDen >= col("__sza") * tauNum)
          .select(col("__xa").as("inner_id"), col("__xb").as("outer_id"),
            col("n_common"),
            (col("n_common").cast("double") / col("__sza").cast("double"))
              .as("containment"))
      }
    }
  }

  /** q151: exact 2-shingle containment ≥ 0.8 join over `documents`
    * (min 5 shingles) — finds quote/subset relationships between docs.
    * Ordered output: `doc_in`'s shingles are ≥ 80% inside `doc_out`. */
  private val q151: Q = (s, dir) => {
    import s.implicits._
    val withWords = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("__words"))
    val sets = withWords.select($"doc_id", shingles($"__words", 2).as("sh"))
    containmentJoin(sets, "doc_id", "sh", 4, 5, minSize = 5,
        fragments = dedupFragments(s, dir, passFactor = 4600L),
        resize = dedupResize(s, dir, passFactor = 4600L))
      .withColumnRenamed("inner_id", "doc_in")
      .withColumnRenamed("outer_id", "doc_out")
      .orderBy($"doc_in", $"doc_out")
  }
  private val q151Sql: String =
    s"""WITH sets AS (
       |  SELECT doc_id, ${shingleSetSql("text")} AS sh FROM documents),
       |sz AS (SELECT doc_id, sh, len(sh) AS sz FROM sets WHERE len(sh) >= 5),
       |ex AS (SELECT doc_id, sz, unnest(sh) AS el FROM sz),
       |dfreq AS (SELECT el, COUNT(*) AS df FROM ex GROUP BY el),
       |ranked AS (
       |  SELECT e.doc_id, e.sz, e.el,
       |    ROW_NUMBER() OVER (PARTITION BY e.doc_id
       |                       ORDER BY d.df ASC, e.el ASC) AS pos
       |  FROM ex e JOIN dfreq d USING (el)),
       |prefix AS (
       |  SELECT r.* FROM ranked r
       |  WHERE r.pos <= r.sz - ((4 * r.sz + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS xa, b.doc_id AS xb
       |  FROM prefix a JOIN ex b
       |    ON a.el = b.el AND a.doc_id <> b.doc_id)
       |SELECT xa AS doc_in, xb AS doc_out, n_common, containment FROM (
       |  SELECT c.xa, c.xb,
       |    CAST(len(x.sh) AS BIGINT) AS sza,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |      / CAST(len(x.sh) AS DOUBLE) AS containment
       |  FROM cand c
       |  JOIN sz x ON x.doc_id = c.xa
       |  JOIN sz y ON y.doc_id = c.xb)
       |WHERE n_common * 5 >= sza * 4
       |ORDER BY doc_in, doc_out""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Batch semantics pin for the STREAMING near-dup admission operator
    * ([[graft.streaming.StreamingDedup]]): the same row-local band-bucket
    * computation, with first-writer-wins resolved as `min(doc_id)` per
    * bucket — exactly what the streaming operator produces when the corpus
    * arrives in one micro-batch (its within-batch contention rule is
    * smallest-doc-first precisely so this equivalence holds; across
    * batches, arrival order takes precedence — StreamingDedupSpec). A
    * document is admitted iff it claims every one of its 4 band buckets;
    * a rejected document reports one colliding prior. */
  // --------------------------------------------- hashed-bitmap tier
  /** Fixed-width HASHED bitmap of a token set: each token sets bit
    * `PortableHash(token) mod 64·words` — no dictionary, no vocabulary
    * probe, constant `8·words` bytes per document at ANY vocabulary size.
    * This is the unbounded-vocab verification tier the exact-dictionary
    * bitmaps (TokenBitmask / Bitmap.fromPositions over a dict) cannot
    * reach; the cost is that Jaccard over hashed bitmaps is an ESTIMATE:
    * collisions merge tokens, biasing the estimate UP (never down), by
    * roughly `s / (64·words)` for sets of size s — pick the width so the
    * working set size stays well under the bit space. */
  def hashedBitmap(toksCol: Column, words: Int): Column =
    graft.functions.Bitmap.fromPositions(
      transform(toksCol,
        t => (PortableHash.tokenHash(t) % lit(64L * words)).cast("int")),
      words)

  /** MinHash-LSH near-dup with hashed-bitmap verification — the 100 TB
    * configuration: candidate generation identical to
    * [[minhashNearDupTokens]] (row-local MinhashBands kernel → equi-join
    * on (band, hash)), verification on constant-size hashed bitmaps with
    * NO global dictionary build and NO vocab-dependent branching. Returns
    * doc pairs with the (upward-biased) Jaccard estimate; exact pairs of
    * identical sets report exactly 1.0. Not DuckDB-oracled by design —
    * the estimate is the point — but spec'd against the exact pipeline
    * (every exact pair survives; estimates bound exact values from
    * above). */
  def minhashNearDupHashed(df: DataFrame, idCol: String, toksCol: Column,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.9,
      words: Int = 128): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val canon = df
      .select(col(idCol), array_sort(array_distinct(toksCol)).as("__set"))
      .filter(size(col("__set")) > 0)
    val groups = canon.groupBy(col("__set"))
      .agg(collect_list(col(idCol)).as("__members"))
      .withColumn("__gid", array_min(col("__members")))
      .lineageCut() // ContextCleaner-reclaimed (r12 advice)
    val banded = groups.select(col("__gid"),
      posexplode(graft.functions.MinhashBands.bands(
        col("__set"), numHashes, bands)).as(Seq("__bidx", "__bhash")))
    val a = banded.select(col("__gid").as("__ga"),
      col("__bidx"), col("__bhash"))
    val b = banded.select(col("__gid").as("__gb"),
      col("__bidx").as("__bidx2"), col("__bhash").as("__bhash2"))
    val cand = a.join(b,
        col("__bidx") === col("__bidx2") &&
        col("__bhash") === col("__bhash2") &&
        col("__ga") < col("__gb"))
      .select(col("__ga"), col("__gb")).distinct()
    val bm = groups.select(col("__gid"),
      hashedBitmap(col("__set"), words).as("__bm"))
    val verified = cand
      .join(bm.select(col("__gid").as("__ga"), col("__bm").as("__bm_a")), "__ga")
      .join(bm.select(col("__gid").as("__gb"), col("__bm").as("__bm_b")), "__gb")
      .withColumn("jaccard",
        graft.functions.Bitmap.jaccard(col("__bm_a"), col("__bm_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("__ga"), col("__gb"), col("jaccard"))
    val ga = groups.select(col("__gid").as("__ga"), col("__members").as("__mem_a"))
    val gb = groups.select(col("__gid").as("__gb"), col("__members").as("__mem_b"))
    val cross = verified.join(ga, "__ga").join(gb, "__gb")
      .select(explode(col("__mem_a")).as("__x"), col("__mem_b"), col("jaccard"))
      .select(col("__x"), explode(col("__mem_b")).as("__y"), col("jaccard"))
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"), col("jaccard"))
    val intra = groups.filter(size(col("__members")) >= 2)
      .select(explode(col("__members")).as("__x"), col("__members"))
      .select(col("__x"), explode(col("__members")).as("__y"))
      .filter(col("__x") < col("__y"))
      .select(col("__x").as("id_a"), col("__y").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  /** (doc_id, band, bucket, first_doc) — every document's band buckets
    * with each bucket's first (smallest-id) claimant; shared by q67 and
    * the component query q71. */
  private def bucketFirst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"band", $"bucket")
    Tables(s, dir, "documents")
      .select($"doc_id",
        graft.streaming.StreamingDedup.bandHashes($"text", 16, 4).as("bb"))
      .select($"doc_id", posexplode($"bb").as(Seq("band", "bucket")))
      .withColumn("first_doc", min($"doc_id").over(w))
  }

  private val q67: Q = (s, dir) => {
    import s.implicits._
    bucketFirst(s, dir)
      .groupBy($"doc_id")
      .agg(min($"doc_id" === $"first_doc").as("admit"),
        max(when($"doc_id" =!= $"first_doc", $"first_doc")).as("dup_of"))
      .orderBy($"doc_id")
  }
  private val q67Sql = {
    def sig(i: Int) =
      s"list_min(list_transform(hs, h -> ${permSql(i, "h")}))"
    def bucket(b: Int) = foldSql(b.toLong, (b * 4 until b * 4 + 4).map(sig))
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bucket(b)} AS bucket FROM h")
      .mkString("\n  UNION ALL ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      x -> ${tokenHashPSql("x")}) AS hs
       |  FROM documents),
       |bb AS (
       |  $bandSelects),
       |f AS (
       |  SELECT doc_id, band, bucket,
       |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS first_doc
       |  FROM bb)
       |SELECT doc_id, BOOL_AND(doc_id = first_doc) AS admit,
       |  MAX(CASE WHEN doc_id <> first_doc THEN first_doc END) AS dup_of
       |FROM f GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q71
  /** Transitive dedup clusters — connected components over the near-dup
    * candidate graph (documents joined by "rejected against" edges from
    * the bucket stars of [[bucketFirst]]). Pairwise near-dup verdicts are
    * not enough to deduplicate a corpus: if A~B and B~C, all three are
    * one cluster even when A and C never collide — the canonical step
    * after any LSH pass (and what a union-find would do on one machine).
    *
    * Distributed min-label propagation: every doc starts labeled with its
    * own id; each round takes the min over neighbors' labels; fixpoint =
    * min doc_id of the component. The driver loop only ORCHESTRATES
    * rounds (each round is a fully distributed join + aggregate; the
    * per-round `count` both detects convergence and truncates lineage
    * through the persisted frame — the GraphFrames CC shape). Rounds are
    * bounded by graph diameter (7 on this corpus); at 100 TB the
    * documented upgrade is large-star/small-star (alternating contraction
    * gives O(log n) rounds on adversarial chains), same per-round plan.
    * (A per-round path-halving pointer jump was measured NET-NEGATIVE
    * here — +0.3 s at sf0.1: the bucket-star seeding already keeps
    * diameters small, so the extra self-join outweighs the saved rounds;
    * contraction only pays on adversarially long chains.)
    *
    * DuckDB oracle: recursive-CTE transitive closure + MIN per node —
    * identical fixpoint by definition. */
  private val q71: Q = (s, dir) => {
    import s.implicits._
    val bf = bucketFirst(s, dir)
    val half = bf.filter($"doc_id" =!= $"first_doc")
      .select($"doc_id".as("a"), $"first_doc".as("b")).distinct()
    // eager localCheckpoint: iterative self-referencing plans grow
    // multiplicatively per round (labels appears three times in each
    // round's lineage) — checkpointing truncates the plan each round,
    // which is what keeps analysis/codegen cost CONSTANT per round at any
    // iteration count. On a cluster with lost-executor concerns the
    // reliable-storage `checkpoint()` is the durable variant.
    val edges = half.union(half.select($"b".as("a"), $"a".as("b")))
      .distinct().lineageCut(eager = true)
    // seed with the bucket-star minimum (≤ doc_id by first-claimant
    // construction, and always inside the component) — equivalent to
    // running the identity-seeded first round for free
    var labels = bf.groupBy($"doc_id")
      .agg(min($"first_doc").as("label")).lineageCut(eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < 25) {
      iter += 1
      val nbrMin = edges
        .join(labels.select($"doc_id".as("b"), $"label".as("nl")), "b")
        .groupBy($"a").agg(min($"nl").as("min_nbr"))
      // convergence flag computed IN the round's own projection (labels
      // are min-monotone, so "changed" ⇔ a neighbor label strictly won):
      // the previous shape re-joined `next` against `labels` just to
      // count changes — one extra label-table-sized shuffle join per
      // round (r17, guide §2.4). The flagged count now rides the
      // checkpoint materialization as an observe metric (r18, guide
      // §1.2) — zero probe actions per round; a missed observation
      // falls back to the pre-r18 scan of the checkpointed blocks.
      val (next, obsChanged) = Lineage.cutWithMetric(
        labels
          .join(nbrMin.select($"a".as("doc_id"), $"min_nbr"),
            Seq("doc_id"), "left")
          .select($"doc_id",
            least($"label", coalesce($"min_nbr", $"label")).as("label"),
            (coalesce($"min_nbr", $"label") < $"label").as("__chg")),
        sum(when($"__chg", 1L).otherwise(0L)))
      val changed =
        if (obsChanged >= 0L) obsChanged else changedRows(next)
      labels = next.select($"doc_id", $"label")
      converged = changed == 0L
    }
    require(converged, s"component propagation did not converge in $iter rounds")
    labels.groupBy($"label".as("component_id"))
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc_id"), max($"doc_id").as("max_doc_id"))
      .orderBy($"component_id")
  }
  private val q71Sql = {
    def sig(i: Int) =
      s"list_min(list_transform(hs, h -> ${permSql(i, "h")}))"
    def bucket(b: Int) = foldSql(b.toLong, (b * 4 until b * 4 + 4).map(sig))
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bucket(b)} AS bucket FROM h")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE h AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      x -> ${tokenHashPSql("x")}) AS hs
       |  FROM documents),
       |bb AS (
       |  $bandSelects),
       |f AS (
       |  SELECT doc_id, band, bucket,
       |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS first_doc
       |  FROM bb),
       |edges AS (
       |  SELECT doc_id AS a, first_doc AS b FROM f WHERE doc_id <> first_doc
       |  UNION
       |  SELECT first_doc, doc_id FROM f WHERE doc_id <> first_doc),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT label AS component_id, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
       |FROM (SELECT a AS doc_id, MIN(b) AS label FROM reach GROUP BY a)
       |GROUP BY label
       |ORDER BY component_id""".stripMargin
  }

  // --------------------------------------------------------------- q164
  /** Dedup IMPACT report — the triage a curator reads before running a
    * destructive dedup pass: the cluster-size histogram of the q71
    * near-dup components, with, per size, how many documents a
    * keep-one-per-cluster policy would remove. Size-1 clusters are the
    * untouched majority; a heavy tail here is what justifies (and
    * sizes) the dedup job. Component-output-sized aggregation — the
    * expensive part is q71 itself, already bounded. */
  private val q164: Q = (s, dir) => {
    import s.implicits._
    q71(s, dir)
      .groupBy($"n_docs".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("docs_total", $"cluster_size" * $"n_clusters")
      .withColumn("docs_removable", ($"cluster_size" - 1) * $"n_clusters")
      .orderBy($"cluster_size")
  }
  private val q164Sql: String =
    s"""SELECT CAST(n_docs AS BIGINT) AS cluster_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(n_docs * COUNT(*) AS BIGINT) AS docs_total,
       |  CAST((n_docs - 1) * COUNT(*) AS BIGINT) AS docs_removable
       |FROM ($q71Sql)
       |GROUP BY n_docs
       |ORDER BY cluster_size""".stripMargin

  /** EAGER lineage cut of `df` with its row count riding the checkpoint
    * materialization as an observe metric (r18, guide §1.2): the
    * two-star convergence test needs |e| and |eS| every round, and
    * reading them off the checkpoint action costs no count scan. A
    * missed observation falls back to [[recount]]. */
  private[graft] def countedCut(df: DataFrame): (DataFrame, Long) = {
    val (c, n) = Lineage.cutWithMetric(df, count(lit(1)))
    (c, if (n >= 0L) n else recount(c))
  }

  /** [[countedCut]]'s fallback: the row count recomputed from the cut
    * frame's checkpointed blocks. */
  private[graft] def recount(cut: DataFrame): Long = cut.count()

  /** q71's fallback when a round's observed change count is missing:
    * the `__chg`-flagged rows recounted from the cut frame. */
  private[graft] def changedRows(next: DataFrame): Long =
    next.filter(col("__chg")).count()

  // --------------------------------------------------------------- q71b
  /** Alternating large-star/small-star contraction (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the adversarial-
    * chain-safe variant of q71's label propagation. Label propagation
    * needs diameter-many rounds (a 1000-node path = ~1000 rounds); the
    * two-star alternation contracts the graph toward min-rooted stars in
    * O(log² n) rounds worst case (O(log n) observed — the chain spec
    * measures it), with every round the same fully distributed
    * groupBy-min + equi-join plan.
    *
    *  - large-star(u): every neighbor v > u is re-pointed at
    *    m = min(Γ(u) ∪ {u})  — long chains fold toward local minima;
    *  - small-star(u): every smaller neighbor (and u itself) is pointed
    *    at m = min(Γ≤(u))    — stars flatten onto their minimum.
    *
    * Edges stay directed larger→smaller throughout (both emits satisfy
    * it by construction); the fixpoint is a disjoint union of stars
    * rooted at component minima, read off as the label map directly —
    * no closure join. localCheckpoint per round truncates the iterative
    * lineage exactly as in q71.
    *
    * Returns (labels(doc_id, label), rounds). `nodes` must contain every
    * vertex id (singletons included — they label themselves). */
  def twoStarLabels(nodes: DataFrame, edges0: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    var (e, cntE) = countedCut(edges0
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .filter($"u" =!= $"v").distinct())
    var rounds = 0
    var done = cntE == 0L
    while (!done && rounds < maxRounds) {
      rounds += 1
      // LARGE-STAR over symmetric neighborhoods
      val sym = e.select($"u".as("c"), $"v".as("n"))
        .union(e.select($"v".as("c"), $"u".as("n")))
      val mins = sym.groupBy($"c").agg(min($"n").as("mn"))
        .select($"c", least($"mn", $"c").as("m"))
      // large-star output stays a PLAN within the round (r18, guide
      // §1.2): both small-star consumers (the per-u min and the join)
      // read it through the same reused exchange, so each round pays
      // ONE checkpoint materialization instead of two — the pre-r18
      // shape cut (and counted) eL separately
      val eL = sym.join(mins, "c").filter($"n" > $"c")
        .select($"n".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v").distinct()
      // SMALL-STAR over the (already larger→smaller) directed edges
      val minsS = eL.groupBy($"u").agg(min($"v").as("m"))
      val (eS, cntS) = countedCut(eL.join(minsS, "u").filter($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(minsS.select($"u", $"m".as("v")))
        .distinct())
      // FUSED convergence — equivalence proof: over the potential
      // Φ(E) = Σ_{(u,v)∈E} (u+v), each star op maps every input edge to
      // an output edge of no greater potential (large-star: (n,c) ↦
      // (n, m(c)), m(c) ≤ c; small-star: (u,v) ↦ (v, m(u)), m(u) ≤ v,
      // plus the unchanged (u, m(u)) edges), and distinct-collapse only
      // removes mass — so Φ(eS) ≤ Φ(eL) ≤ Φ(e), with equality at each
      // step iff that op emitted its input verbatim. Hence eS == e (as
      // sets) ⟺ Φ(eS) == Φ(e) ⟺ BOTH ops were no-ops — exactly the old
      // (eL==e && eS==eL) test, without materializing eL, so the loop
      // stops at the identical round. The frames are distinct sets, so
      // equal count + empty set-difference ⇔ set equality, and the
      // count rides the checkpoint — the equality join only actually
      // runs in the rare count-stable rounds at (or next to) the
      // fixpoint.
      done = cntS == cntE && eS.except(e).isEmpty
      e = eS
      cntE = cntS
    }
    require(done || rounds < maxRounds,
      s"two-star contraction did not converge in $rounds rounds")
    // fixpoint stars: every non-root points directly at its component min
    val labels = nodes
      .join(e.select($"u".as("doc_id"), $"v".as("lbl")), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("label"))
    (labels, rounds)
  }

  /** q71's component summary computed by [[twoStarLabels]] — identical
    * output (and oracle) to q71, different round complexity. */
  private val q71b: Q = (s, dir) => {
    import s.implicits._
    val bf = bucketFirst(s, dir)
    val nodes = bf.select($"doc_id").distinct()
    val edges = bf.filter($"doc_id" =!= $"first_doc")
      .select($"doc_id".as("a"), $"first_doc".as("b"))
    val (labels, _) = twoStarLabels(nodes, edges)
    labels.groupBy($"label".as("component_id"))
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc_id"), max($"doc_id").as("max_doc_id"))
      .orderBy($"component_id")
  }

  // ---------------------------------------------------------------- q74
  /** Test-set decontamination — remove training documents that share long
    * n-grams with the held-out set (the GPT-3/Pile 13-gram rule, here
    * 8-grams against this corpus's vocabulary: long enough that chance
    * collisions vanish and every hit is a genuinely shared passage).
    * eval = `src0`, train = the rest.
    *
    * Shape at 100 TB: the eval n-gram set is small (distinct 8-grams of
    * the held-out corpus) and BROADCASTS; the train side explodes to
    * (doc, n-gram) and the contamination test is one broadcast equi-join
    * + per-doc count — never a doc×doc comparison. Shingling is the
    * codegen ShingleArray kernel. Output: each contaminated train doc
    * with its shared-passage count. */
  private val q74: Q = (s, dir) => {
    import s.implicits._
    val withSh = Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        shingles(split($"text", " "), 8).as("sh"))
    val evalNg = withSh.filter($"source" === "src0")
      .select(explode($"sh").as("ng")).distinct()
    val trainNg = withSh.filter($"source" =!= "src0")
      .select($"doc_id", $"source", explode($"sh").as("ng"))
    trainNg.join(broadcast(evalNg), "ng")
      .groupBy($"doc_id", $"source")
      .agg(count_distinct($"ng").as("n_shared_ngrams"))
      .orderBy($"doc_id")
  }
  private val q74Sql = {
    val ngram = (1 to 7).foldLeft("tk[i]")((acc, o) =>
      s"$acc || ' ' || tk[i+$o]")
    val sh = s"list_distinct(list_transform(range(1, len(tk) - 6), i -> $ngram))"
    s"""WITH d AS (
       |  SELECT doc_id, source, $sh AS sh
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
       |        FROM documents)),
       |ev AS (
       |  SELECT DISTINCT ng FROM d, UNNEST(sh) AS u(ng) WHERE source = 'src0'),
       |tr AS (
       |  SELECT doc_id, source, ng FROM d, UNNEST(sh) AS u(ng)
       |  WHERE source <> 'src0')
       |SELECT doc_id, source,
       |  CAST(COUNT(DISTINCT tr.ng) AS BIGINT) AS n_shared_ngrams
       |FROM tr JOIN ev ON tr.ng = ev.ng
       |GROUP BY doc_id, source
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  /** C4-style span-level dedup (Raffel et al. 2020 — public method —
    * applies its repeated-occurrence rule below document granularity):
    * the corpus-wide dedup unit is a fixed-length token span; any span
    * whose exact text occurred EARLIER in the corpus (order: doc_id,
    * span position) is dropped and documents are reassembled from the
    * surviving spans. Catches boilerplate repeated across documents
    * that whole-document fingerprints (q35/q45) cannot see, without the
    * near-dup machinery's candidate generation.
    *
    * Scale shape: span construction is one per-row projection (no
    * shuffle, no re-split per span), then ONE hash-partition window on
    * span text — the only shuffle whose width matters, and it carries
    * the distinct-span space, not the corpus — then a per-doc
    * reassembly aggregate on the primary key. */
  private val q83: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val S = 8
    val spans = Tables(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("tk"))
      .select($"doc_id",
        posexplode(transform(
          sequence(lit(0), ((size($"tk") + lit(S - 1)) / lit(S)).cast("int") - 1),
          w => array_join(slice($"tk", w * S + 1, lit(S)), " ")))
          .as(Seq("span_idx", "span")))
    val wSpan = Window.partitionBy($"span").orderBy($"doc_id", $"span_idx")
    spans.withColumn("keep", row_number().over(wSpan) === 1)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when($"keep",
              struct($"span_idx", $"span")))),
            x => x.getField("span")), " ").as("clean_text"))
      .orderBy($"doc_id")
  }
  private val q83Sql =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sp AS (
      |  SELECT doc_id, w AS span_idx,
      |         array_to_string(tk[w*8+1 : w*8+8], ' ') AS span
      |  FROM tk, UNNEST(range(0, (len(tk) + 7) // 8)) AS t(w)),
      |k AS (
      |  SELECT doc_id, span_idx, span,
      |    ROW_NUMBER() OVER (PARTITION BY span
      |                       ORDER BY doc_id, span_idx) AS rn
      |  FROM sp)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' '
      |                      ORDER BY span_idx), '') AS clean_text
      |FROM k GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q167
  /** Arbitrary-alignment EXACT-SUBSTRING duplication coverage (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr pass, public method — re-expressed for a
    * distributed engine): find, per document, the exact token regions
    * covered by some ≥ k-token substring that occurs elsewhere in the
    * corpus AT ANY ALIGNMENT. q83's C4 spans only catch k-token chunks
    * on k-token boundaries — a passage repeated at offset 3 never lines
    * up and survives; this operator slides the window over EVERY
    * position, which is exactly the recall the suffix-array method
    * buys, without a global suffix sort.
    *
    * Method: every doc emits its n−k+1 sliding k-token windows (one
    * projection builds the gram array in-row, q83's no-re-split shape);
    * a window is DUPLICATED when its gram text occurs ≥ 2 times in the
    * corpus (cross-doc or within-doc — both are training-data
    * redundancy); per doc, marked positions merge into maximal
    * contiguous regions (positions p₁ < p₂ with p₂ − p₁ ≤ k cover a
    * contiguous token range, so an island's coverage is exactly
    * [min, max + k)).
    *
    * RECALL CONTRACT: every repeated substring of length L ≥ k is
    * covered by L − k + 1 duplicated windows, so the reported region
    * union contains EVERY such span exactly (no approximation in
    * coverage); what this operator does not report is which documents
    * share each span — that is q143/q151's pair-join territory. Grams
    * compare by the 48-bit portable hash (cross-engine exact; a
    * collision — ~10⁻² expected per few-million-window corpus — can
    * only over-mark, and identically in both engines).
    *
    * Scale: one projection (no re-split per window), ONE hash-wide
    * shuffle on the gram hash (carried as a long; the occurrence count
    * is a window aggregate, not a self-join), one per-doc window for
    * the island merge — partitioned by doc, bounded by doc length. The
    * all-suffix sort of the original never materializes. */
  /** Shared front of the ExactSubstr family: (doc, token array, length)
    * plus every sliding k-gram as (doc, position, portable 48-bit
    * hash) — one projection, no re-split per window. */
  private def slidingGramFront(docsDf: DataFrame, idCol: String,
      textCol: String, k: Int): (DataFrame, DataFrame) = {
    val withN = docsDf.select(col(idCol).as("__id"),
      split(col(textCol), " ").as("__tk"))
      .select(col("__id"), size(col("__tk")).cast("long").as("__n"),
        col("__tk"))
    val grams = withN.filter(col("__n") >= k)
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), (col("__n") - k).cast("int")),
          p => array_join(slice(col("__tk"), p + 1, lit(k)), " ")))
          .as(Seq("__p", "__g")))
      .select(col("__id"), col("__p").cast("long").as("__p"),
        PortableHash.tokenHash(col("__g")).as("__gh"))
    (withN, grams)
  }

  def substringDupCoverage(docsDf: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (withN, grams) = slidingGramFront(docsDf, idCol, textCol, k)
    val marked = grams
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__gh"))))
      .filter(col("__c") >= 2)
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("__p"))
    val islands = marked
      .withColumn("__lag", lag(col("__p"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__lag").isNull || col("__p") - col("__lag") > k, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = islands.groupBy(col("__id"), col("__isl"))
      .agg(min(col("__p")).as("__s"), (max(col("__p")) + k).as("__e"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("__e") - col("__s")).as("dup_tokens"))
    withN.select(col("__id"), col("__n"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as("doc_id"), col("__n").as("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q167: 8-token exact-substring coverage over `documents` — the
    * unaligned-repetition audit q83 cannot see. */
  private val q167: Q = (s, dir) =>
    substringDupCoverage(Tables(s, dir, "documents"), "doc_id", "text", 8)

  /** The DESTRUCTIVE ExactSubstr pass (Lee et al. 2022 apply their
    * audit): remove every duplicated ≥ k-token region EXCEPT its
    * corpus-CANONICAL occurrence, at any alignment.
    *
    * Survivor policy, fully deterministic: each duplicated gram's
    * canonical occurrence is its (doc_id, position)-minimal one —
    * first doc in key order, earliest position within it (the
    * keep-first-occurrence rule of q21/q83 extended below alignment
    * granularity). A token is REMOVED iff some redundant
    * (non-canonical) duplicated window covers it AND no canonical
    * window does — so the first copy of a repeated passage survives
    * byte-exact, later copies vanish, and a token where a canonical and
    * a redundant region overlap is kept (it is part of the surviving
    * copy). Unmarked tokens are untouched. Documents reassemble from
    * kept tokens in order, q83's collect-sort-join shape.
    *
    * Scale: [[substringDupCoverage]]'s plan (one projection, one
    * gram-hash shuffle, per-doc windows) plus one token explode
    * (corpus-sized) equi-joined to the doc's spans (span list per doc
    * is region-count-sized, never corpus-sized) — no all-pairs, no
    * global suffix sort. */
  def substringDedup(docsDf: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (withN, grams) = slidingGramFront(docsDf, idCol, textCol, k)
    val byGram = Window.partitionBy(col("__gh"))
    val occ = grams
      .withColumn("__c", count(lit(1)).over(byGram))
      .filter(col("__c") >= 2)
      .withColumn("__rn", row_number().over(
        byGram.orderBy(col("__id"), col("__p"))))
      .withColumn("__canon", col("__rn") === 1)
    // island-merge marked windows per (doc, class): contiguous
    // canonical coverage and contiguous redundant coverage each become
    // spans [min, max+k)
    val byDocCls = Window.partitionBy(col("__id"), col("__canon"))
      .orderBy(col("__p"))
    val spans = occ
      .withColumn("__lag", lag(col("__p"), 1).over(byDocCls))
      .withColumn("__brk",
        when(col("__lag").isNull || col("__p") - col("__lag") > k, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDocCls.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__id"), col("__canon"), col("__isl"))
      .agg(min(col("__p")).as("__s"), (max(col("__p")) + k).as("__e"))
    val toks = withN.select(col("__id"),
      posexplode(col("__tk")).as(Seq("__t", "__w")))
      .select(col("__id"), col("__t").cast("long").as("__t"), col("__w"))
    val cov = toks.join(spans, Seq("__id"), "left")
      .withColumn("__in",
        col("__s").isNotNull && col("__t") >= col("__s") &&
          col("__t") < col("__e"))
      .groupBy(col("__id"), col("__t"), col("__w"))
      .agg(
        max(when(col("__in") && !col("__canon"), 1L).otherwise(0L))
          .as("__red"),
        max(when(col("__in") && col("__canon"), 1L).otherwise(0L))
          .as("__can"))
      .withColumn("__keep", !(col("__red") === 1L && col("__can") === 0L))
    cov.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("__t"), col("__w"))))),
            x => x.getField("__w")), " ").as("clean_text"))
      .select(col("__id").as("doc_id"), col("n_tokens"),
        col("n_removed"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** q169: the destructive 8-token pass over `documents` — q167's
    * audit applied, first occurrence kept. */
  private val q169: Q = (s, dir) =>
    substringDedup(Tables(s, dir, "documents"), "doc_id", "text", 8)
  private val q169Sql: String = {
    val gh = PortableHash.tokenHashSql(
      "array_to_string(tk[p+1 : p+8], ' ')")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, tk FROM t),
       |g AS (
       |  SELECT doc_id, p, $gh AS gh
       |  FROM n, UNNEST(range(0, n - 8 + 1)) AS u(p) WHERE n >= 8),
       |occ AS (
       |  SELECT doc_id, p, (rn = 1) AS canon FROM (
       |    SELECT doc_id, p,
       |      COUNT(*) OVER (PARTITION BY gh) AS c,
       |      ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
       |    FROM g)
       |  WHERE c >= 2),
       |i AS (
       |  SELECT doc_id, canon, p,
       |    CASE WHEN lag(p) OVER w IS NULL
       |           OR p - lag(p) OVER w > 8 THEN 1 ELSE 0 END AS brk
       |  FROM occ WINDOW w AS (PARTITION BY doc_id, canon ORDER BY p)),
       |i2 AS (
       |  SELECT doc_id, canon, p, SUM(brk) OVER (
       |    PARTITION BY doc_id, canon ORDER BY p
       |    ROWS UNBOUNDED PRECEDING) AS isl FROM i),
       |sp AS (
       |  SELECT doc_id, canon, isl, MIN(p) AS s, MAX(p) + 8 AS e
       |  FROM i2 GROUP BY doc_id, canon, isl),
       |tok AS (
       |  SELECT doc_id, p AS t, tk[p+1] AS w
       |  FROM n, UNNEST(range(0, n)) AS u(p)),
       |cov AS (
       |  SELECT tok.doc_id, tok.t, tok.w,
       |    MAX(CASE WHEN sp.s IS NOT NULL AND tok.t >= sp.s
       |              AND tok.t < sp.e AND NOT sp.canon
       |         THEN 1 ELSE 0 END) AS red,
       |    MAX(CASE WHEN sp.s IS NOT NULL AND tok.t >= sp.s
       |              AND tok.t < sp.e AND sp.canon
       |         THEN 1 ELSE 0 END) AS can
       |  FROM tok LEFT JOIN sp USING (doc_id)
       |  GROUP BY tok.doc_id, tok.t, tok.w)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN red = 1 AND can = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN NOT (red = 1 AND can = 0)
       |    THEN w END, ' ' ORDER BY t), '') AS clean_text
       |FROM cov GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }
  private val q167Sql: String = {
    val gh = PortableHash.tokenHashSql(
      "array_to_string(tk[p+1 : p+8], ' ')")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n, tk FROM t),
       |g AS (
       |  SELECT doc_id, p, $gh AS gh
       |  FROM n, UNNEST(range(0, n - 8 + 1)) AS u(p) WHERE n >= 8),
       |m AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gh) AS c FROM g)
       |  WHERE c >= 2),
       |i AS (
       |  SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER w IS NULL
       |           OR p - lag(p) OVER w > 8 THEN 1 ELSE 0 END AS brk
       |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |i2 AS (
       |  SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS UNBOUNDED PRECEDING) AS isl FROM i),
       |sp AS (
       |  SELECT doc_id, isl, MIN(p) AS s, MAX(p) + 8 AS e
       |  FROM i2 GROUP BY doc_id, isl),
       |pd AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
       |    CAST(SUM(e - s) AS BIGINT) AS dup_tokens
       |  FROM sp GROUP BY doc_id)
       |SELECT n.doc_id, n.n AS n_tokens,
       |  COALESCE(pd.dup_spans, 0) AS dup_spans,
       |  COALESCE(pd.dup_tokens, 0) AS dup_tokens
       |FROM n LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q85
  /** Incremental near-dup admission — the corpus-GROWTH pattern: an
    * existing corpus (doc_id < 250, standing in for the last snapshot)
    * has already claimed its LSH band buckets; a new batch is admitted
    * against those claims PLUS first-writer contention within the batch
    * (the same rule q67 pins and StreamingDedup enforces micro-batch by
    * micro-batch — here as one batch query, so the oracle can check it).
    * At 100 TB the claimed-bucket state is exactly StreamingDedup's "one
    * long per live bucket"; the new batch shuffles once on (band,
    * bucket) and joins state that is corpus-bucket-sized, never
    * corpus-sized. */
  private val q85: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val bf = bucketFirst(s, dir)
    val existing = bf.filter($"doc_id" < 250)
      .select($"band", $"bucket").distinct()
    val batch = bf.filter($"doc_id" >= 250)
    val wB = Window.partitionBy($"band", $"bucket")
    batch.join(existing.withColumn("claimed", lit(true)),
        Seq("band", "bucket"), "left")
      .withColumn("first_new", min($"doc_id").over(wB))
      .groupBy($"doc_id")
      .agg(min(coalesce($"claimed", lit(false)) === false &&
        $"doc_id" === $"first_new").as("admit"))
      .orderBy($"doc_id")
  }
  private val q85Sql = {
    def sig(i: Int) =
      s"list_min(list_transform(hs, h -> ${permSql(i, "h")}))"
    def bucket(b: Int) = foldSql(b.toLong, (b * 4 until b * 4 + 4).map(sig))
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${bucket(b)} AS bucket FROM h")
      .mkString("\n  UNION ALL ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform(list_distinct(string_split(text, ' ')),
       |      x -> ${tokenHashPSql("x")}) AS hs
       |  FROM documents),
       |bb AS (
       |  $bandSelects),
       |ex AS (
       |  SELECT DISTINCT band, bucket FROM bb WHERE doc_id < 250),
       |nw AS (
       |  SELECT doc_id, band, bucket,
       |    MIN(doc_id) OVER (PARTITION BY band, bucket) AS first_new
       |  FROM bb WHERE doc_id >= 250)
       |SELECT nw.doc_id,
       |  BOOL_AND(ex.band IS NULL AND nw.doc_id = nw.first_new) AS admit
       |FROM nw LEFT JOIN ex
       |  ON nw.band = ex.band AND nw.bucket = ex.bucket
       |GROUP BY nw.doc_id
       |ORDER BY nw.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q109
  /** Fuzzy self-join at edit distance <= 1 via deletion-neighborhood
    * blocking — EXACT, not approximate: two strings are within one edit
    * iff they share a member of {s} ∪ {s with one char deleted} (equal →
    * the identity variant; substitution at i → both delete position i;
    * insert/delete → the shorter string IS a deletion variant of the
    * longer). Each name explodes into length+1 variants map-side, the
    * self-join is a plain equi-join on the variant (candidates come from
    * shared-variant buckets, never all pairs), and only candidates pay
    * the `levenshtein` verification — the same block-then-verify shape as
    * the MinHash pipeline, with a completeness guarantee.
    *
    * Scale: the variant blowup is (L+1)× rows but map-side and
    * projection-only; the join shuffles on the variant string whose
    * bucket sizes are the true near-match groups, so work is
    * output-bound. An all-pairs formulation (the oracle's luxury at
    * sf0.1) is O(n²) and impossible at 100 TB. */
  def fuzzyJoinEd1(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val variants = df.select(col(idCol), col(strCol),
      explode(concat(array(col(strCol)), expr(
        s"""transform(sequence(1, length($strCol)),
           |  i -> concat(substring($strCol, 1, i - 1),
           |              substring($strCol, i + 1)))""".stripMargin)))
        .as("v"))
    // Route the variant buckets through the capped self-join kernel: a
    // duplicate-heavy name (the r14 ×100 finding — K replicas of one
    // string put C(K,2) pairs in ONE variant reducer) decomposes into
    // bounded blocks instead of pinning a straggler. The 64-bit variant
    // hash as bucket key is harmless: a collision only ADDS candidates,
    // and every candidate is levenshtein-verified — while a true ed≤1
    // pair always shares a variant, so it is always a candidate.
    val banded = variants.select(col(idCol), lit(0).as("__bidx"),
      PortableHash.tokenHashP(col("v")).as("__bhash"), col(strCol))
    bandSelfJoin(banded, idCol, Seq(strCol), DefaultMaxBucket)
      .select(col("__ga").as("k1"), col(s"${strCol}_a").as("name1"),
        col("__gb").as("k2"), col(s"${strCol}_b").as("name2"))
      .distinct() // a candidate pair may share several variants
      .filter(levenshtein(col("name1"), col("name2")) <= 1)
  }

  private val q109: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name")
    fuzzyJoinEd1(c, "c_custkey", "c_name").orderBy($"k1", $"k2")
  }
  private val q109Sql =
    """WITH c AS (
      |  SELECT c_custkey, c_name FROM customer
      |  WHERE c_mktsegment = 'BUILDING')
      |SELECT a.c_custkey AS k1, a.c_name AS name1,
      |       b.c_custkey AS k2, b.c_name AS name2
      |FROM c a JOIN c b
      |  ON a.c_custkey < b.c_custkey
      | AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY k1, k2""".stripMargin

  // --------------------------------------------------------------- q114
  /** Entity resolution end-to-end — the composition the two pieces exist
    * for: ed-1 fuzzy matching ([[fuzzyJoinEd1]], exact deletion-
    * neighborhood blocking) produces the match edges, two-star
    * contraction ([[twoStarLabels]], adversarial-chain-safe) groups them
    * into entity clusters, and each cluster reports its canonical record
    * (the minimum key — also the cluster label, so the canonical-name
    * join is key-exact). Only multi-member clusters survive: those are
    * the resolved duplicates a curation pipeline would merge.
    *
    * Scale: every stage is a already-proven distributed shape — variant
    * equi-join (never all-pairs), O(log n)-round contraction, one
    * label-keyed aggregate. The fuzzy join runs on DISTINCT NAMES, not
    * records: exact duplicates (ed = 0) are contracted map-side to one
    * representative per name (min key, carrying the group's count and
    * max), because the quotient of the ed≤1 graph under name equality
    * has exactly the same components — K copies of a hot name otherwise
    * put C(K,2) verified pairs into the edge set for zero connectivity
    * information (the r14 ×10/×100 measurement: q114 was 127× for 100×
    * data, and the pair blowup among replicated names — not the two-star
    * loop — was the cost). The oracle replays the same edges with the
    * all-pairs levenshtein form + recursive-CTE closure DuckDB can
    * afford at test SFs. */
  private val q114: Q = (s, dir) => {
    import s.implicits._
    val c = Tables(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name")
    // one node per DISTINCT name; rep = min key, so the cluster label
    // (min over reps) IS the cluster's min key — the canonical record
    val names = c.groupBy($"c_name")
      .agg(min($"c_custkey").as("rep"), max($"c_custkey").as("mx"),
        count(lit(1)).as("cnt"))
      .lineageCut() // feeds the fuzzy join, the label expansion,
                 // and the final aggregate; non-replicated trade: see
                 // note in bandSelfJoin
    val edges = fuzzyJoinEd1(names.select($"rep".as("k"), $"c_name"),
        "k", "c_name")
      .select($"k1".as("a"), $"k2".as("b"))
    val (labels, _) =
      twoStarLabels(names.select($"rep".as("doc_id")), edges)
    names.join(labels.withColumnRenamed("doc_id", "rep"), "rep")
      .groupBy($"label")
      .agg(sum($"cnt").as("n_members"), max($"mx").as("max_key"))
      .filter($"n_members" >= 2)
      .join(c.select($"c_custkey".as("label"),
        $"c_name".as("canonical_name")), "label")
      .select($"label".as("cluster_id"), $"canonical_name",
        $"n_members", $"max_key")
      .orderBy($"cluster_id")
  }
  private val q114Sql =
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey AS k, c_name AS name FROM customer
      |  WHERE c_mktsegment = 'BUILDING'),
      |e0 AS (
      |  SELECT a.k AS a, b.k AS b
      |  FROM c a JOIN c b
      |    ON a.k < b.k AND levenshtein(a.name, b.name) <= 1),
      |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |reach(a, b) AS (
      |  SELECT k, k FROM c
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT a AS k, MIN(b) AS label FROM reach GROUP BY a)
      |SELECT label AS cluster_id, cn.name AS canonical_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_members, MAX(l.k) AS max_key
      |FROM lbl l JOIN c cn ON cn.k = l.label
      |GROUP BY label, cn.name
      |HAVING COUNT(*) >= 2
      |ORDER BY cluster_id""".stripMargin

  // --------------------------------------------------------------- q216
  /** Near-dup recall panel — the "no unmeasured index ships" discipline
    * (q77/q121's ANN panel) applied to the TEXT dedup family: for each
    * banding config of the 16-hash MinHash pipeline, measure the
    * verified-pair recall against exact ground truth and report the
    * candidate count (the pipeline's cost axis) beside it. LSH
    * verification keeps only true pairs, so recall = |verified| /
    * |truth| directly; candidates quantify what recall costs — the
    * banding knob every deployment turns (more bands → higher recall,
    * quadratically more candidates) chosen from a MEASUREMENT, not the
    * S-curve formula alone.
    *
    * Ground truth is exact corpus-wide Jaccard ≥ τ computed COUNTS-ONLY
    * over the distinct-set mask collapse: group sizes multiply
    * (|A|·|B| per qualifying distinct-set pair, C(m,2) within identical
    * sets), so no doc-level pair list ever materializes. The
    * fixed-width bitmap tier needs the bounded-vocab fixture (the q38
    * contract); at an open-vocab 100 TB scale the truth tier runs on a
    * SAMPLE — the panel is a measurement, not a production query, and
    * its candidate stage still routes through the capped
    * [[bandSelfJoin]] so a hot bucket cannot straggle the measurement
    * itself. Configs are rows-per-band ∈ {8, 4, 2}; the degenerate
    * 1-row-per-band config is omitted — on a dup-dense corpus it
    * admits nearly every pair (measured: its candidate count at
    * sf0.001 approaches the full pair space for ~1% more recall than
    * 2-rows-per-band). */
  private val panelBands = Seq(2, 4, 8)

  /** The panel computation — COUNTS-ONLY over the distinct-set collapse:
    * group multiplicities multiply (|A|·|B| per qualifying set pair,
    * C(m, 2) within identical sets — identical sets co-band trivially and
    * verify at J = 1), so no doc-level pair list ever materializes and
    * the signature pass runs ONCE for all configs. */
  private def buildNearDupPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TokenBitmask
    val tau = 0.9
    val sets = Tables(s, dir, "documents")
      .select($"doc_id", array_sort(tokenSet($"text")).as("__set"))
      .filter(size($"__set") > 0)
      .groupBy($"__set")
      .agg(count(lit(1)).as("m"), min($"doc_id").as("__gid"))
      .persist()
    val exploded = sets.select($"__gid", explode($"__set").as("__tok"))
    val vocab = exploded.select($"__tok").distinct()
    require(vocab.count() <= TokenBitmask.MaxVocab,
      "recall panel's exact-truth tier needs the bounded-vocab fixture")
    val gm = sets.select($"__gid", $"m")
      .join(TokenBitmask.masks(exploded, TokenBitmask.dictionary(vocab),
        Seq("__gid")), "__gid")
      .persist()
    val intraT = gm
      .agg(coalesce(sum($"m" * ($"m" - 1)), lit(0L)).cast("long"))
      .head().getLong(0) / 2
    val aT = gm.select($"__mask".as("__ma"), $"m".as("__na"))
    val bT = gm.select($"__mask".as("__mb"), $"m".as("__nb"))
    val interT = TokenBitmask.intersectCount($"__ma", $"__mb").cast("double")
    val uniT = TokenBitmask.unionCount($"__ma", $"__mb").cast("double")
    val crossT = aT.join(bT, $"__ma" < $"__mb")
      .filter(interT / uniT >= tau)
      .agg(coalesce(sum($"__na" * $"__nb"), lit(0L)).cast("long"))
      .head().getLong(0)
    val nTruth = crossT + intraT
    val sig = minhashSignatures(sets.select($"__gid", $"__set"),
      "__gid", "__set", 16).persist()
    val rows = panelBands.map { bnds =>
      val banded = sig.select($"__gid",
        posexplode(array(bandHashCols(bnds, 16 / bnds): _*))
          .as(Seq("__bidx", "__bhash")))
      val pairs = bandSelfJoin(banded, "__gid", Nil, DefaultMaxBucket)
        .select($"__ga", $"__gb").distinct()
        .join(gm.select($"__gid".as("__ga"), $"m".as("__na"),
          $"__mask".as("__ma")), "__ga")
        .join(gm.select($"__gid".as("__gb"), $"m".as("__nb"),
          $"__mask".as("__mb")), "__gb")
        .persist()
      val nCand = pairs
        .agg(coalesce(sum($"__na" * $"__nb"), lit(0L)).cast("long"))
        .head().getLong(0) + intraT
      val interV =
        TokenBitmask.intersectCount($"__ma", $"__mb").cast("double")
      val uniV = TokenBitmask.unionCount($"__ma", $"__mb").cast("double")
      val nVer = pairs.filter(interV / uniV >= tau)
        .agg(coalesce(sum($"__na" * $"__nb"), lit(0L)).cast("long"))
        .head().getLong(0) + intraT
      pairs.unpersist()
      val recallBp = if (nTruth == 0) 10000L
        else math.floor(10000.0 * nVer / nTruth).toLong
      (bnds, 16 / bnds, nTruth, nCand, nVer, recallBp)
    }
    sig.unpersist(); gm.unpersist(); sets.unpersist()
    rows.toDF("bands", "rows_per_band", "n_truth", "n_candidates",
      "n_verified", "recall_bp")
  }

  /** q216b: the recall panel with a SAMPLED exact-truth arm — the
    * open-vocab-scale variant of q216 (r13 verdict #2). q216's exact
    * tier requires ≤ 62 distinct tokens (TokenBitmask single-long
    * masks), so banding recall was only measurable on the bounded-vocab
    * fixture. This panel instead restricts the WHOLE measurement to a
    * deterministic 1-in-4 sample of distinct token-sets — the sampling
    * key is the cross-engine sha256 hash ([[graft.functions
    * .PortableHash]]) of the canonical set string, so the "seed" is the
    * hash function itself and Spark and the DuckDB oracle select
    * identical groups — and computes truth on the sample with the
    * guaranteed-exact prefix-join kernel ([[prefixSimilarityJoin]],
    * never all-pairs, any vocabulary). Pair-level banding outcomes
    * depend only on the two docs' own signatures, so restricting the
    * corpus to the sample changes no pair's outcome: recall over
    * sampled pairs is an unbiased estimate of corpus recall (every
    * cross-group truth pair has the same 1/16 inclusion probability;
    * doc multiplicities ride the group m's exactly as in q216), and
    * the panel now runs at sweep scale where q216's contract cannot. */
  private def buildNearDupPanelSampled(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.PortableHash
    val gm = Tables(s, dir, "documents")
      .select($"doc_id", array_sort(tokenSet($"text")).as("__set"))
      .filter(size($"__set") > 0)
      .groupBy($"__set")
      .agg(count(lit(1)).as("m"), min($"doc_id").as("__gid"))
      .filter(pmod(PortableHash.tokenHash(concat_ws(" ", $"__set")),
        lit(4L)) === 0L)
      .lineageCut() // sample-sized; feeds truth, signatures, and
                 // every config's verify join (executor-loss trade:
                 // see note in bandSelfJoin)
    val intraT = gm.agg(coalesce(sum($"m" * ($"m" - 1)), lit(0L))
      .cast("long")).head().getLong(0) / 2
    val truthT = prefixSimilarityJoin(gm.select($"__gid", $"__set"),
        "__gid", "__set", 9, 10)
      .join(gm.select($"__gid".as("id_a"), $"m".as("__na")), "id_a")
      .join(gm.select($"__gid".as("id_b"), $"m".as("__nb")), "id_b")
      .agg(coalesce(sum($"__na" * $"__nb"), lit(0L)).cast("long"))
      .head().getLong(0)
    val nTruth = truthT + intraT
    val sig = minhashSignatures(gm.select($"__gid", $"__set"),
      "__gid", "__set", 16).lineageCut()
    val rows = panelBands.map { bnds =>
      val banded = sig.select($"__gid",
        posexplode(array(bandHashCols(bnds, 16 / bnds): _*))
          .as(Seq("__bidx", "__bhash")))
      val pairs = bandSelfJoin(banded, "__gid", Nil, DefaultMaxBucket)
        .select($"__ga", $"__gb").distinct()
        .join(gm.select($"__gid".as("__ga"), $"m".as("__na"),
          $"__set".as("__sa")), "__ga")
        .join(gm.select($"__gid".as("__gb"), $"m".as("__nb"),
          $"__set".as("__sb")), "__gb")
        .lineageCut() // read by the cand count and the verify count
      val nCand = pairs.agg(coalesce(sum($"__na" * $"__nb"), lit(0L))
        .cast("long")).head().getLong(0) + intraT
      val inter = size(array_intersect($"__sa", $"__sb")).cast("long")
      val uni = size($"__sa").cast("long") +
        size($"__sb").cast("long") - inter
      // integer cross-multiply, not a double >= — bit-identical to the
      // oracle's predicate at the J = 0.9 boundary
      val nVer = pairs.filter(inter * 10L >= uni * 9L)
        .agg(coalesce(sum($"__na" * $"__nb"), lit(0L)).cast("long"))
        .head().getLong(0) + intraT
      val recallBp = if (nTruth == 0) 10000L
        else math.floor(10000.0 * nVer / nTruth).toLong
      (bnds, 16 / bnds, nTruth, nCand, nVer, recallBp)
    }
    rows.toDF("bands", "rows_per_band", "n_truth", "n_candidates",
      "n_verified", "recall_bp")
  }

  private val q216b: Q = (s, dir) => {
    val fp = VectorIndex.corpusFingerprint(s, s"$dir/documents.parquet")
    VectorIndex.loadOrBuild(s,
      s"${VectorIndex.indexRoot(dir)}/neardup_recall_panel_sampled", fp)(
      buildNearDupPanelSampled(s, dir)).orderBy(col("bands"))
  }
  private val q216bSql = {
    val tokensExpr = "list_distinct(string_split(text, ' '))"
    import graft.functions.PortableHash
    val sampPred =
      s"(${PortableHash.tokenHashSql("array_to_string(s, ' ')")} % 4) = 0"
    val base =
      s"""sets AS (
         |  SELECT doc_id, list_sort($tokensExpr) AS s FROM documents
         |  WHERE len($tokensExpr) > 0),
         |samp AS (
         |  SELECT s, COUNT(*) AS m, MIN(doc_id) AS gid FROM sets
         |  GROUP BY s HAVING $sampPred),
         |rep AS (
         |  SELECT gid AS doc_id, array_to_string(s, ' ') AS text
         |  FROM samp)""".stripMargin
    val intraQ = "(SELECT COALESCE(SUM(CAST(m * (m - 1) / 2 AS BIGINT))" +
      ", 0) AS t FROM samp)"
    def jacOk(a: String, b: String) =
      s"10 * len(list_intersect($a.s, $b.s)) >= " +
        s"9 * (len($a.s) + len($b.s) - len(list_intersect($a.s, $b.s)))"
    val truthQ =
      s"""(WITH $base,
         |c AS (SELECT COALESCE(SUM(a.m * b.m), 0) AS t
         |      FROM samp a JOIN samp b ON a.s < b.s
         |      WHERE ${jacOk("a", "b")}),
         |i AS $intraQ
         |SELECT CAST(c.t + i.t AS BIGINT) FROM c, i)""".stripMargin
    def countQ(b: Int, verified: Boolean) = {
      val w = if (verified) s"WHERE ${jacOk("sa", "sb")}" else ""
      s"""(WITH $base,
         |${lshCandCtes(tokensExpr, 16, b, "rep")},
         |x AS (SELECT COALESCE(SUM(sa.m * sb.m), 0) AS t
         |      FROM cand
         |      JOIN samp sa ON cand.id_a = sa.gid
         |      JOIN samp sb ON cand.id_b = sb.gid
         |      $w),
         |i AS $intraQ
         |SELECT CAST(x.t + i.t AS BIGINT) FROM x, i)""".stripMargin
    }
    def block(b: Int) =
      s"""SELECT $b AS bands, ${16 / b} AS rows_per_band,
         |  $truthQ AS n_truth, ${countQ(b, verified = false)}
         |    AS n_candidates, ${countQ(b, verified = true)} AS n_verified,
         |  CASE WHEN $truthQ = 0 THEN 10000
         |       ELSE CAST(FLOOR(10000.0 * ${countQ(b, verified = true)}
         |                       / $truthQ) AS BIGINT)
         |  END AS recall_bp""".stripMargin
    panelBands.map(block).mkString("\nUNION ALL\n") + "\nORDER BY bands"
  }

  private val q216: Q = (s, dir) => {
    // stored measurement (q121's discipline): the panel persists as a
    // fingerprint-stamped artifact, rebuilt exactly when the documents
    // corpus changes — a decision query re-reads 3 parquet rows instead
    // of re-measuring the family
    val fp = VectorIndex.corpusFingerprint(s, s"$dir/documents.parquet")
    VectorIndex.loadOrBuild(s,
      s"${VectorIndex.indexRoot(dir)}/neardup_recall_panel", fp)(
      buildNearDupPanel(s, dir)).orderBy(col("bands"))
  }
  private val q216Sql = {
    val tokensExpr = "list_distinct(string_split(text, ' '))"
    val jac = "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)"
    val truthQ =
      s"""(WITH sets AS (
         |  SELECT doc_id, list_sort($tokensExpr) AS s FROM documents),
         |grp AS (SELECT s, COUNT(*) AS m FROM sets GROUP BY s),
         |c AS (
         |  SELECT COALESCE(SUM(a.m * b.m), 0) AS t
         |  FROM grp a JOIN grp b ON a.s < b.s WHERE $jac >= 0.9),
         |i AS (SELECT COALESCE(SUM(CAST(m * (m - 1) / 2 AS BIGINT)), 0)
         |  AS t FROM grp)
         |SELECT CAST(c.t + i.t AS BIGINT) FROM c, i)""".stripMargin
    def block(b: Int) = {
      val verQ =
        s"(SELECT COUNT(*) FROM (${lshPipelineSql(tokensExpr, 16, b, 0.9)}))"
      val candQ = s"(SELECT COUNT(*) FROM (WITH ${
        lshCandCtes(tokensExpr, 16, b, "documents")} SELECT * FROM cand))"
      s"""SELECT $b AS bands, ${16 / b} AS rows_per_band,
         |  $truthQ AS n_truth, $candQ AS n_candidates, $verQ AS n_verified,
         |  CASE WHEN $truthQ = 0 THEN 10000
         |       ELSE CAST(FLOOR(10000.0 * $verQ / $truthQ) AS BIGINT)
         |  END AS recall_bp""".stripMargin
    }
    panelBands.map(block).mkString("\nUNION ALL\n") + "\nORDER BY bands"
  }

  val queries: Map[String, Q] = Map(
    "q216_neardup_recall" -> q216,
    "q216b_sampled_recall" -> q216b,
    "q114_entity_clusters" -> q114,
    "q109_fuzzy_join" -> q109,
    "q36_minhash_near_dup" -> q36,
    "q37_simhash_fingerprints" -> q37,
    "q60_shingle_near_dup" -> q60,
    "q143_exact_prefix_join" -> q143,
    "q151_containment_join" -> q151,
    "q158_simhash_multiprobe" -> q158,
    "q67_streaming_dedup_pin" -> q67,
    "q71_dedup_components" -> q71,
    "q164_dedup_impact" -> q164,
    "q71b_components_twostar" -> q71b,
    "q74_decontamination" -> q74,
    "q83_span_dedup" -> q83,
    "q167_substring_coverage" -> q167,
    "q169_substring_dedup" -> q169,
    "q170_normalized_near_dup" -> q170,
    "q85_incremental_admission" -> q85)

  val oracleSql: Map[String, String] = Map(
    "q216_neardup_recall" -> q216Sql,
    "q216b_sampled_recall" -> q216bSql,
    "q114_entity_clusters" -> q114Sql,
    "q109_fuzzy_join" -> q109Sql,
    "q36_minhash_near_dup" -> q36Sql,
    "q37_simhash_fingerprints" -> q37Sql,
    "q60_shingle_near_dup" -> q60Sql,
    "q143_exact_prefix_join" -> q143Sql,
    "q151_containment_join" -> q151Sql,
    "q158_simhash_multiprobe" -> q158Sql,
    "q67_streaming_dedup_pin" -> q67Sql,
    "q71_dedup_components" -> q71Sql,
    "q164_dedup_impact" -> q164Sql,
    "q71b_components_twostar" -> q71Sql,
    "q74_decontamination" -> q74Sql,
    "q83_span_dedup" -> q83Sql,
    "q167_substring_coverage" -> q167Sql,
    "q169_substring_dedup" -> q169Sql,
    "q170_normalized_near_dup" -> q170Sql,
    "q85_incremental_admission" -> q85Sql)
}
