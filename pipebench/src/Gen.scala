package pipebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.graft.EnvelopeCodec
import org.apache.spark.unsafe.types.UTF8String

/** What one generated envelope is, as the generator wrote it. */
object Kind {
  val Valid: Byte = 0
  /** A TRANSACTIONBEGIN entry: decoded, then dropped by the F1 filter. */
  val Begin: Byte = 1
  /** Bytes that do not decode (a truncated envelope): dropped by F2. */
  val Malformed: Byte = 2
  /** A valid event whose 5-minute window closed in an earlier file. */
  val Late: Byte = 3
}

/** The generator's own record of one envelope; `bytes` is the wire form. */
final case class Ev(kind: Byte, pos: Long, ms: Long, gtid: String, eventType: String,
    size: Long, rows: Long, bytes: Array[Byte]) {
  /** The sink keeps every decoded non-BEGIN event, late or not. */
  def written: Boolean = kind == Kind.Valid || kind == Kind.Late
}

/** Seeded Canal-envelope generator. File `idx` covers event time
  * `[startMs, startMs + spanMs)`; its gtids are Zipf-skewed over a per-file
  * pool, each transaction's events cluster within a few seconds, binlog
  * positions grow strictly (so `max_by(size, pos)` never ties), and a small
  * share of events belong to one of the previous three files' spans (late).
  * Each transaction opens with one TRANSACTIONBEGIN entry, as Canal emits it
  * (the reference drops these: `mon_mysql_dml.py:246-253`). The shares, the
  * skew, the pool size and the transaction span are assumptions; see
  * pipebench/README.md. The same seed and call sequence give the same
  * envelopes.
  */
final class Gen(seed: Long) {

  private val malformedShare = 0.01
  private val lateShare = 0.02
  private val txnSpanMs = 4000
  private val rnd = new SplittableRandom(seed)
  private var nextPos = 4L + rnd.nextInt(1 << 20)
  private val servers = Array.fill(3) {
    val a = rnd.nextLong(); val b = rnd.nextLong()
    new java.util.UUID(a, b).toString
  }
  private val types = Array("INSERT", "INSERT", "INSERT", "INSERT", "INSERT",
    "UPDATE", "UPDATE", "UPDATE", "DELETE", "DELETE")
  private val zipfS = 1.1

  /** Per-file gtid pool: names, each transaction's base event time, and the
    * Zipf CDF used to pick one. Kept for the last three files (late events).
    */
  private final case class Pool(gtids: Array[String], baseMs: Array[Long],
      startMs: Long, spanMs: Long, cdf: Array[Double])
  private val pools = mutable.Map.empty[Int, Pool]
  private var txnSeq = 1L

  private def pool(idx: Int, startMs: Long, spanMs: Long, n: Int): Pool = {
    val g = math.max(8, n / 8)
    val gtids = Array.tabulate(g) { i =>
      val s = servers(i % servers.length); txnSeq += 1; s"$s:$txnSeq"
    }
    val base = Array.fill(g)(startMs + rnd.nextLong(spanMs))
    val w = Array.tabulate(g)(i => 1.0 / math.pow(i + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    val cdf = w.map { x => acc += x / total; acc }
    Pool(gtids, base, startMs, spanMs, cdf)
  }

  private def pick(p: Pool): Int = {
    val i = java.util.Arrays.binarySearch(p.cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, p.gtids.length - 1)
  }

  /** An event of transaction `t` of pool `p`, `offsetMs` after its start. */
  private def eventIn(p: Pool, t: Int, kind: Byte, eventType: String, offsetMs: Long): Ev = {
    val ms = math.min(p.baseMs(t) + offsetMs, p.startMs + p.spanMs - 1)
    val size = 40L + rnd.nextInt(960)
    val rows = 1L + (if (rnd.nextInt(4) == 0) rnd.nextInt(20) else 0)
    val pos = nextPos
    nextPos += size
    val bytes = EnvelopeCodec.encode(pos, ms, UTF8String.fromString(p.gtids(t)),
      UTF8String.fromString(eventType), size, rows)
    Ev(kind, pos, ms, p.gtids(t), eventType, size, rows, bytes)
  }

  private def rowEvent(p: Pool, t: Int, kind: Byte): Ev =
    eventIn(p, t, kind, types(rnd.nextInt(types.length)), rnd.nextLong(txnSpanMs))

  /** File `idx`, in arrival order: `n` row entries, each of this file's
    * transactions preceded by its TRANSACTIONBEGIN entry.
    */
  def file(idx: Int, startMs: Long, spanMs: Long, n: Int): Array[Ev] = {
    val p = pool(idx, startMs, spanMs, n)
    pools(idx) = p
    pools.remove(idx - 4)
    val earlier = (idx - 3 until idx).flatMap(pools.get)
    val begun = new java.util.BitSet(p.gtids.length)
    val out = mutable.ArrayBuffer.empty[Ev]
    def onTime(): Ev = {
      val t = pick(p)
      if (!begun.get(t)) {
        begun.set(t)
        out += eventIn(p, t, Kind.Begin, "TRANSACTIONBEGIN", 0L)
      }
      rowEvent(p, t, Kind.Valid)
    }
    (0 until n).foreach { _ =>
      val u = rnd.nextDouble()
      val e =
        if (u < malformedShare) {
          val ok = onTime()
          ok.copy(kind = Kind.Malformed,
            bytes = java.util.Arrays.copyOf(ok.bytes, rnd.nextInt(ok.bytes.length)))
        } else if (u < malformedShare + lateShare && earlier.nonEmpty) {
          val q = earlier(rnd.nextInt(earlier.length))
          rowEvent(q, pick(q), Kind.Late)
        } else onTime()
      out += e
    }
    out.toArray
  }
}

/** Reference computation of the pipeline's results in plain Scala, from the
  * generator's records alone (no Spark): the per-gtid transaction statistics
  * of `compute_transaction_info.py`, the per-window top-1 with the engine's
  * `(metric, gtid)` tie-break, and the MV daily counts.
  */
object Ref {
  val WindowMs = 300000L
  val DayMs = 86400000L
  val Metrics: Seq[String] =
    Seq("transaction_size", "transaction_affected_rows", "transaction_spend_time")

  /** Mergeable per-gtid partial: enough to finish all three metrics. */
  final case class Agg(minSec: Long, maxSec: Long, minPos: Long, maxPos: Long,
      sizeAtMaxPos: Long, rows: Long) {
    def merge(o: Agg): Agg = Agg(math.min(minSec, o.minSec), math.max(maxSec, o.maxSec),
      math.min(minPos, o.minPos), math.max(maxPos, o.maxPos),
      if (o.maxPos > maxPos) o.sizeAtMaxPos else sizeAtMaxPos, rows + o.rows)
  }
  object Agg {
    def of(e: Ev): Agg = {
      val sec = math.floorDiv(e.ms, 1000L)
      Agg(sec, sec, e.pos, e.pos, e.size, e.rows)
    }
  }

  final case class Stat(gtid: String, spend: Long, size: Long, affected: Long) {
    def metric(m: String): Long = m match {
      case "transaction_size" => size
      case "transaction_affected_rows" => affected
      case "transaction_spend_time" => spend
    }
  }

  def windowOf(ms: Long): Long = math.floorDiv(ms, WindowMs)
  def dayOf(ms: Long): String = java.time.LocalDate.ofEpochDay(math.floorDiv(ms, DayMs)).toString

  def aggregate(evs: Iterator[Ev]): Map[String, Agg] = {
    val m = mutable.HashMap.empty[String, Agg]
    evs.foreach { e =>
      val a = Agg.of(e)
      m.update(e.gtid, m.get(e.gtid).fold(a)(_.merge(a)))
    }
    m.toMap
  }

  def mergeAll(parts: Iterator[Map[String, Agg]]): Map[String, Agg] = {
    val m = mutable.HashMap.empty[String, Agg]
    parts.foreach(_.foreach { case (g, a) => m.update(g, m.get(g).fold(a)(_.merge(a))) })
    m.toMap
  }

  def stats(aggs: Map[String, Agg]): Seq[Stat] = aggs.toSeq.map { case (g, a) =>
    Stat(g, a.maxSec - a.minSec, a.maxPos - a.minPos + a.sizeAtMaxPos, a.rows)
  }

  /** `ORDER BY metric DESC, gtid DESC LIMIT 1`. */
  def top1(stats: Iterable[Stat], metric: String): Stat =
    stats.maxBy(s => (s.metric(metric), s.gtid))

  /** Per-tick conservation: the ticks whose sink batch (`batch_id` = tick)
    * does not hold exactly the rows the generator says survive decode and the
    * BEGIN filter (written = in − malformed − BEGIN).
    */
  def unconserved(expected: IndexedSeq[Long], got: Map[Long, Long]): Seq[Int] =
    expected.indices.filterNot(k => got.get(k.toLong).contains(expected(k)))

  /** MV1: events per (day, event_type), over everything the sink keeps. */
  def dailyCounts(evs: Iterator[Ev]): Map[(String, String), Long] = {
    val m = mutable.HashMap.empty[(String, String), Long]
    evs.filter(_.written).foreach { e =>
      val k = (dayOf(e.ms), e.eventType)
      m.update(k, m.getOrElse(k, 0L) + 1)
    }
    m.toMap
  }
}
