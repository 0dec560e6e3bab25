"""Deterministic Wikimedia `recentchange` frame generator and loopback SSE server.

Every frame is a pure function of (seed, slot k, event time), so a seed fixes
the whole input: the type mix, the payloads, which slots are corrupt lines and
which are exact re-deliveries of an earlier slot.  Event times come from the
schedule the caller lays over the slots (`meta.dt` is the slot's due time), so
the same seed gives the same frames relative to the schedule's start.

Slot kinds:
  fresh    a new event; its title embeds k, so every distinct event has a
           distinct (event_timestamp, username, title) key
  dup      byte-identical re-delivery of an earlier fresh slot a few seconds
           back (inside the pipeline's 10 s watermark)
  corrupt  a truncated JSON payload the parser must skip
"""

import random
import socket
import threading
import time
from datetime import datetime, timezone
from urllib.parse import parse_qs, urlparse

MASK = (1 << 64) - 1

# (type, cumulative share) -- the live stream's rough mix; edit+new ~ 0.58
TYPE_MIX = (("edit", 0.52), ("new", 0.58), ("categorize", 0.83),
            ("log", 0.95), ("external", 1.0))
TYPED = ("edit", "new")
EDIT_NO_LENGTH = 0.04  # share of edit events that omit `length`

WORDS = ("river", "station", "history", "album", "county", "church", "league",
         "season", "school", "bridge", "election", "railway", "village",
         "museum", "island", "battle", "festival", "mountain", "district",
         "film", "novel", "species", "airport", "castle", "temple", "bishop",
         "parish", "regiment", "galaxy", "protein", "dialect", "treaty")
WIKIS = (("en", "wikipedia"), ("de", "wikipedia"), ("fr", "wikipedia"),
         ("commons", "wikimedia"), ("www", "wikidata"), ("es", "wikipedia"),
         ("ja", "wikipedia"), ("ru", "wikipedia"))
N_USERS = 2000


def mix(*xs):
    """splitmix64 over a tuple of ints: the generator's only randomness."""
    h = 0x9E3779B97F4A7C15
    for x in xs:
        h = (h ^ (x & MASK)) & MASK
        h = (h + 0x9E3779B97F4A7C15) & MASK
        z = h
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
        h = z ^ (z >> 31)
    return h


def iso(epoch_s):
    return datetime.fromtimestamp(int(epoch_s), timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def parse_iso(s):
    return int(datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
               .replace(tzinfo=timezone.utc).timestamp())


class Slot:
    """Attributes of one slot, all drawn from two hashes of (seed, k)."""
    __slots__ = ("kind", "h1", "h2")

    def __init__(self, kind, h1, h2):
        self.kind, self.h1, self.h2 = kind, h1, h2


class Stream:
    """The slot sequence for one seed."""

    def __init__(self, seed, dup_frac=0.0, corrupt_frac=0.002,
                 dup_window=2000):
        self.seed = seed
        self.dup_frac = dup_frac
        self.corrupt_frac = corrupt_frac
        self.dup_window = dup_window

    def slot(self, k, lo=0):
        """Slot k of a sequence that starts at slot lo (a dup never reaches
        back before lo, so lo itself is always fresh)."""
        h1 = mix(self.seed, k)
        u = (h1 & 0xFFFFFF) / float(1 << 24)
        if k <= lo or u >= self.corrupt_frac + self.dup_frac:
            kind = "fresh"
        elif u < self.corrupt_frac:
            kind = "corrupt"
        else:
            kind = "dup"
        return Slot(kind, h1, mix(self.seed, k, 1))

    def kind(self, k, lo=0):
        return self.slot(k, lo).kind

    def dup_source(self, k, lo=0):
        """The fresh slot a dup slot re-delivers."""
        j = k - 1 - mix(self.seed, k, 2) % min(k - lo, self.dup_window)
        while self.kind(j, lo) != "fresh":
            j -= 1
        return j

    @staticmethod
    def _type(h1):
        u = ((h1 >> 24) & 0xFFFF) / 65536.0
        for t, cum in TYPE_MIX:
            if u < cum:
                return t
        return TYPE_MIX[-1][0]

    @staticmethod
    def _user(h1):
        u = (h1 >> 40) % N_USERS
        return ("Bot%04d" if u % 10 == 0 else "Editor%04d") % u

    @staticmethod
    def _title(h2, k):
        return "%s %s %d" % (WORDS[h2 % len(WORDS)].title(),
                             WORDS[(h2 >> 5) % len(WORDS)], k)

    def typed_key(self, k, dt):
        """Sink key of fresh slot k at event time dt, or None if the
        pipeline drops the event (wrong type)."""
        s = self.slot(k)
        if self._type(s.h1) not in TYPED:
            return None
        return (int(dt), self._user(s.h1), self._title(s.h2, k))

    def payload(self, k, dt):
        """The JSON document of fresh slot k at event time dt (epoch s)."""
        s = self.slot(k)
        h1, h2 = s.h1, s.h2
        t = self._type(h1)
        lang, fam = WIKIS[(h2 >> 10) % len(WIKIS)]
        host = "%s.%s.org" % (lang, fam)
        title = self._title(h2, k)
        turl = "https://%s/wiki/%s" % (host, title.replace(" ", "_"))
        user = self._user(h1)
        rid = "%016x-%08x" % (h2, k & 0xFFFFFFFF)
        rng = random.Random(h2)
        comment = " ".join(rng.choices(WORDS, k=4 + rng.randrange(40)))
        parsed = "<span>%s</span> %s" % (
            " ".join(rng.choices(WORDS, k=3)),
            " ".join(rng.choices(WORDS, k=4 + rng.randrange(40))))
        parts = [
            '{"$schema":"/mediawiki/recentchange/1.0.0","meta":{"uri":"%s",'
            '"request_id":"%s","id":"%s","dt":"%s","domain":"%s",'
            '"stream":"mediawiki.recentchange",'
            '"topic":"eqiad.mediawiki.recentchange","partition":0,'
            '"offset":%d},"id":%d,"type":"%s","namespace":%d,"title":"%s",'
            '"title_url":"%s","comment":"%s","timestamp":%d,"user":"%s",'
            '"bot":%s,' % (turl, rid, rid[::-1], iso(dt), host,
                           5_000_000_000 + k, 1_900_000_000 + k, t,
                           (h2 >> 13) % 15, title, turl, comment, int(dt),
                           user, "true" if user.startswith("Bot") else "false")]
        if t in TYPED:
            parts.append('"minor":%s,"patrolled":%s,' % (
                "true" if (h2 >> 17) & 1 else "false",
                "true" if (h2 >> 18) & 1 else "false"))
            if not (t == "edit" and
                    ((h2 >> 20) & 0xFFFF) / 65536.0 < EDIT_NO_LENGTH):
                old = 0 if t == "new" else (h2 >> 36) % 200_000
                parts.append('"length":{"old":%d,"new":%d},' % (
                    old, max(0, old + rng.randrange(4000) - 1500)))
            parts.append('"revision":{"old":%d,"new":%d},' % (
                1_200_000_000 + k, 1_200_000_001 + k))
        elif t == "log":
            parts.append('"log_id":%d,"log_type":"%s","log_action":"%s",' % (
                160_000_000 + k, "block" if k % 2 else "upload",
                "create" if k % 3 else "overwrite"))
        parts.append(
            '"notify_url":"https://%s/w/index.php?diff=%d","server_url":'
            '"https://%s","server_name":"%s","server_script_path":"/w",'
            '"wiki":"%s%s","parsedcomment":"%s"}' % (
                host, 1_200_000_001 + k, host, host, lang,
                "wiki" if fam == "wikipedia" else fam, parsed))
        return "".join(parts)

    def data(self, k, dt_of):
        """The `data:` payload slot k delivers; dt_of(j) is slot j's event
        time, and the sequence starts at dt_of.k0."""
        kind = self.kind(k, dt_of.k0)
        if kind == "corrupt":
            return self.payload(k, dt_of(k))[: 40 + mix(self.seed, k, 3) % 200]
        src = self.dup_source(k, dt_of.k0) if kind == "dup" else k
        return self.payload(src, dt_of(src))

    def frame(self, k, dt_of):
        """SSE frame bytes for slot k."""
        kind = self.kind(k, dt_of.k0)
        src = self.dup_source(k, dt_of.k0) if kind == "dup" else k
        return ('event: message\nid: [{"topic":"eqiad.mediawiki.recentchange",'
                '"partition":0,"offset":%d}]\ndata: %s\n\n' % (
                    5_000_000_000 + src, self.data(k, dt_of))).encode()

    def expected_keys(self, slots, dt_of):
        """Distinct sink keys the slots deliver; a dup delivers its source
        slot's key."""
        keys = set()
        for k in slots:
            kind = self.kind(k, dt_of.k0)
            if kind == "corrupt":
                continue
            src = self.dup_source(k, dt_of.k0) if kind == "dup" else k
            key = self.typed_key(src, dt_of(src))
            if key is not None:
                keys.add(key)
        return keys


class Schedule:
    """Event time of slot k: base + (k - k0) / rate, epoch seconds, for the
    n slots [k0, k0 + n)."""

    def __init__(self, base, rate, k0=0, n=0):
        self.base, self.rate, self.k0, self.n = base, rate, k0, n

    def __call__(self, k):
        return self.base + (k - self.k0) / self.rate


class SseServer:
    """One-connection loopback SSE endpoint.

    On connect it first re-delivers, as fast as the connection takes them,
    the history slots whose event time (on `history`) is at least
    `since - overlap_s`, where `since` is the request's `?since=` -- the
    at-least-once overlap a restarted reader must drop.  It then sends
    slots [k0, k0 + total) open loop: slot k is due at
    connect_time + (k - k0) / rate and is written when due, whatever the
    reader's pace, with `meta.dt` = its due time.  Afterwards it holds the
    connection open on heartbeats until stopped.
    """

    def __init__(self, stream, total, rate, k0, history=None, overlap_s=0):
        self.stream = stream
        self.total, self.rate, self.k0 = total, rate, k0
        self.history = history
        self.overlap_s = overlap_s
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(4)
        self.sock.settimeout(0.2)   # accept() wakes up to see stop()
        self.port = self.sock.getsockname()[1]
        self.stop_ev = threading.Event()
        self.connects = 0
        self.since = None
        self.prefix = 0             # overlap frames sent before the schedule
        self.sent = 0               # frames written so far
        self.connect_time = None
        self.sends = []             # (frames_before, n, sent_at)
        self.error = None
        self.thread = threading.Thread(target=self._serve, daemon=True)

    @property
    def url(self):
        return "http://127.0.0.1:%d/v2/stream/recentchange" % self.port

    def start(self):
        self.thread.start()

    def stop(self):
        self.stop_ev.set()
        self.thread.join(10)
        self.sock.close()

    def sent_by(self, t):
        """Frames written at or before wall time t."""
        n = 0
        for before, cnt, at in self.sends:
            if at > t:
                break
            n = before + cnt
        return n

    def _serve(self):
        conn = None
        try:
            while not self.stop_ev.is_set():
                try:
                    c, _ = self.sock.accept()
                except socket.timeout:
                    continue
                except OSError:
                    return
                c.settimeout(None)
                self.connects += 1
                if conn is not None:   # a reconnect: the run is invalid
                    c.close()
                    continue
                conn = c
                threading.Thread(target=self._stream, args=(c,),
                                 daemon=True).start()
        except Exception as e:  # noqa: BLE001 - reported by the runner
            self.error = repr(e)

    def _read_request(self, c):
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = c.recv(4096)
            if not chunk:
                raise ConnectionError("client closed before request end")
            buf += chunk
        line = buf.split(b"\r\n", 1)[0].decode()
        return urlparse(line.split(" ")[1])

    def _send(self, c, frames):
        payload = b"".join(frames)
        c.sendall(b"%x\r\n" % len(payload) + payload + b"\r\n")
        self.sends.append((self.sent, len(frames), time.time()))
        self.sent += len(frames)

    def _stream(self, c):
        try:
            url = self._read_request(c)
            c.sendall(b"HTTP/1.1 200 OK\r\nContent-Type: text/event-stream\r\n"
                      b"Cache-Control: no-cache\r\n"
                      b"Transfer-Encoding: chunked\r\n\r\n")
            self.connect_time = time.time()
            self.since = parse_qs(url.query).get("since", [None])[0]
            if self.since and self.history is not None:
                lo = backlog_start(self.history,
                                   parse_iso(self.since) - self.overlap_s)
                hi = self.history.k0 + self.history.n
                for k in range(lo, hi, 512):
                    self._send(c, [self.stream.frame(j, self.history)
                                   for j in range(k, min(k + 512, hi))])
                self.prefix = self.sent
            self._send_open_loop(c)
            while not self.stop_ev.wait(1.0):
                c.sendall(b"3\r\n:\n\n\r\n")   # heartbeat comment
        except OSError:
            pass  # the reader stopped: the run is over
        except Exception as e:  # noqa: BLE001 - reported by the runner
            self.error = repr(e)
        finally:
            c.close()

    def _send_open_loop(self, c):
        t0 = self.connect_time
        dt_of = Schedule(t0, self.rate, self.k0)
        k = self.k0
        end = self.k0 + self.total
        while k < end and not self.stop_ev.is_set():
            now = time.time()
            if dt_of(k) > now:
                time.sleep(min(dt_of(k) - now, 0.05))
                continue
            j = k
            while j < end and dt_of(j) <= now:
                j += 1
            self._send(c, [self.stream.frame(i, dt_of) for i in range(k, j)])
            k = j


def backlog_start(dt_of, lo):
    """First slot of the schedule whose whole-second event time is at
    least lo."""
    k = max(dt_of.k0, int((lo - dt_of.base) * dt_of.rate) + dt_of.k0 - 2)
    while int(dt_of(k)) < lo:
        k += 1
    return k
