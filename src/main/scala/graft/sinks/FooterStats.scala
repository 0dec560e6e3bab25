package graft.sinks

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

import graft.sinks.ManifestSink.ColStats

/** Min/max statistics from parquet FOOTERS — the lakehouse-format move
  * (Delta/Iceberg collect file stats from metadata, never by re-reading
  * data) — and the one Spark-type → stats-tag classifier every stats
  * path shares. */
private[graft] object FooterStats {

  /** Stats-codec tag of a Spark type: integral → 'L' (stored as long),
    * float/double → 'D', string → 'S'; None = the type records no
    * min/max (the entry then never prunes on that column). Families
    * with narrower type support filter the result. */
  def statsTag(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some('L')
    case FloatType | DoubleType                        => Some('D')
    case StringType                                    => Some('S')
    case _                                             => None
  }

  /** (column, tag) of each of `cols` present in `schema` with a tag. */
  def tagged(schema: StructType, cols: Seq[String]): Seq[(String, Char)] =
    cols.flatMap(c => schema.find(_.name == c)
      .flatMap(f => statsTag(f.dataType)).map(c -> _))

  private object Bail extends Exception with scala.util.control.NoStackTrace
  private def bail(): Nothing = throw Bail

  /** Row count and per-column min/max over the footers of `path` (one
    * parquet file, or the `.parquet` files directly under a directory).
    * EXACT-PARITY CONTRACT with a `count` + `min`/`max` aggregate over
    * the same rows, enforced by returning None — the caller then runs
    * that aggregate, which is always value-correct, so partial footer
    * results are never mixed in — whenever parity cannot be proven:
    *
    *  - only 'L' and 'S' columns ride footers: float/double footer stats
    *    have writer-dependent NaN/-0.0 handling, so a 'D' request bails;
    *  - an 'L' column must be physically INT32/INT64 with signed
    *    semantics (no logical annotation, or a signed int annotation):
    *    parquet's comparator is then the signed order Spark's min/max
    *    use; timestamps and unsigned ints bail;
    *  - an 'S' column must be BINARY; its bounds compare
    *    unsigned-lexicographically on UTF-8 bytes — UTF8String's order.
    *    A bound over 1 KiB may be a TRUNCATED footer stat (valid for
    *    pruning, not value-exact) and bails; parquet-mr drops (rather
    *    than truncates) binary stats above 4 KB, which surfaces as a
    *    chunk with non-null values but no min/max and bails too;
    *  - every row-group chunk must carry statistics with a set null
    *    count; a column missing from a footer bails;
    *  - a column with no non-null value gets no entry — the aggregate's
    *    null min/max;
    *  - row counts come from block metadata (always exact);
    *  - any IOException bails. */
  def walk(conf: Configuration, path: Path,
      cols: Seq[(String, Char)]): Option[(Long, Map[String, ColStats])] = {
    if (cols.exists { case (_, t) => t != 'L' && t != 'S' }) return None
    try {
      val f = path.getFileSystem(conf)
      val files =
        if (f.getFileStatus(path).isFile) Seq(path)
        else f.listStatus(path).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      var rows = 0L
      val accL = mutable.Map.empty[String, (Long, Long)]
      val accS = mutable.Map.empty[String, (Array[Byte], Array[Byte])]
      files.foreach { p =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try {
          val footer = rd.getFooter
          cols.foreach { case (c, tag) =>
            checkType(footer.getFileMetaData.getSchema, c, tag) }
          footer.getBlocks.asScala.foreach { blk =>
            rows += blk.getRowCount
            cols.foreach { case (c, tag) =>
              val chunk = blk.getColumns.asScala
                .find(_.getPath.toDotString == c).getOrElse(bail())
              val stats = chunk.getStatistics
              if (stats == null || !stats.isNumNullsSet) bail()
              if (chunk.getValueCount > stats.getNumNulls) {
                if (!stats.hasNonNullValue) bail() // dropped stats
                if (tag == 'L') {
                  val (lo, hi) = (asLong(stats.genericGetMin),
                    asLong(stats.genericGetMax))
                  accL(c) = accL.get(c).fold((lo, hi)) { case (a, b) =>
                    (math.min(a, lo), math.max(b, hi)) }
                } else {
                  val (lo, hi) = (asBytes(stats.genericGetMin),
                    asBytes(stats.genericGetMax))
                  accS(c) = accS.get(c).fold((lo, hi)) { case (a, b) =>
                    (if (cmpBytes(lo, a) < 0) lo else a,
                      if (cmpBytes(hi, b) > 0) hi else b) }
                }
              }
            }
          }
        } finally rd.close()
      }
      def utf8(b: Array[Byte]) = new String(b, StandardCharsets.UTF_8)
      val stats = cols.flatMap { case (c, tag) =>
        if (tag == 'L') accL.get(c).map { case (lo, hi) =>
          c -> ColStats('L', lo.toString, hi.toString) }
        else accS.get(c).map { case (lo, hi) =>
          c -> ColStats('S', utf8(lo), utf8(hi)) }
      }.toMap
      Some(rows -> stats)
    } catch {
      case Bail | _: java.io.IOException => None
    }
  }

  private def checkType(schema: MessageType, c: String, tag: Char): Unit = {
    if (!schema.containsField(c)) bail()
    val t = schema.getType(schema.getFieldIndex(c))
    if (!t.isPrimitive) bail()
    val pt = t.asPrimitiveType()
    val signed = pt.getLogicalTypeAnnotation match {
      case null                                          => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _                                             => false
    }
    (tag, pt.getPrimitiveTypeName) match {
      case ('L', PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64)
          if signed => ()
      case ('S', PrimitiveTypeName.BINARY) => ()
      case _ => bail()
    }
  }

  private def asLong(v: Any): Long = v match {
    case l: java.lang.Long    => l.longValue
    case i: java.lang.Integer => i.longValue
    case _                    => bail()
  }

  private def asBytes(v: Any): Array[Byte] = v match {
    case b: Binary if b.length <= 1024 => b.getBytes
    case _                             => bail()
  }

  /** Unsigned lexicographic byte compare — UTF8String's ordering. */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
