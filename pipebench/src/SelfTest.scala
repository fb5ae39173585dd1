package pipebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.binlog.TransactionStats
import graft.streaming.StreamingIngest

/** Tests of the benchmark itself: `python3 pipebench/run.py --selftest`.
  * Runs every check; exits non-zero if any failed.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => Console.err.println(e); false }
    println((if (ok) "ok   " else "FAIL ") + name)
    if (!ok) failures += 1
  }

  private def ev(kind: Byte, pos: Long, ms: Long, gtid: String, t: String, size: Long) =
    Ev(kind, pos, ms, gtid, t, size, 1L, org.apache.spark.sql.graft.EnvelopeCodec.encode(
      pos, ms, org.apache.spark.unsafe.types.UTF8String.fromString(gtid),
      org.apache.spark.unsafe.types.UTF8String.fromString(t), size, 1L))

  /** FIXTURES.md §3: six events of one gtid; size = (last − first pos) +
    * the last event's size = 1820.
    */
  private val worked: Seq[Ev] = {
    val pos = Seq(451044141L, 451044825L, 451045109L, 451045419L, 451045535L, 451045845L)
    val size = Seq(593L, 284L, 239L, 116L, 239L, 116L)
    pos.zip(size).zipWithIndex.map { case ((p, s), i) =>
      ev(Kind.Valid, p, 1709251200000L + i * 1000L, "uuid-a:1", "UPDATE", s)
    }
  }

  /** F1: a TRANSACTIONBEGIN entry of another gtid, with a size that would win
    * every ranking if it were kept, plus one malformed envelope.
    */
  private val withBegin: Seq[Ev] = worked ++ Seq(
    ev(Kind.Valid, 451046000L, 1709251204000L, "uuid-b:9", "INSERT", 10L),
    ev(Kind.Begin, 451046200L, 1709251203000L, "uuid-b:9", "TRANSACTIONBEGIN", 99999L)
  ) :+ worked.head.copy(kind = Kind.Malformed, bytes = worked.head.bytes.take(5))

  def main(args: Array[String]): Unit = {
    check("generator is deterministic for a seed") {
      def files(seed: Long) = {
        val g = new Gen(seed)
        (0 until 4).flatMap(i => g.file(i, 1709251200000L + i * Ref.WindowMs, Ref.WindowMs, 2000))
      }
      val (a, b) = (files(7), files(7))
      a.size == b.size && a.zip(b).forall { case (x, y) =>
        x.copy(bytes = null) == y.copy(bytes = null) && java.util.Arrays.equals(x.bytes, y.bytes)
      } && files(8).map(_.gtid) != a.map(_.gtid)
    }
    check("generator mixes BEGIN, malformed and late envelopes") {
      val g = new Gen(3)
      val files = (0 until 5).map(i => g.file(i, i * Ref.WindowMs, Ref.WindowMs, 5000))
      val evs = files.flatten
      Seq(Kind.Begin, Kind.Malformed, Kind.Late).forall(k => evs.exists(_.kind == k)) &&
        files.zipWithIndex.forall { case (f, i) =>
          // file i covers window i; only late events fall before it
          f.count(_.kind != Kind.Begin) == 5000 &&
            f.forall(e => (e.kind == Kind.Late) == (Ref.windowOf(e.ms) < i))
        }
    }
    check("each transaction has one BEGIN, ahead of its on-time entries") {
      val g = new Gen(4)
      (0 until 3).forall { i =>
        val f = g.file(i, i * Ref.WindowMs, Ref.WindowMs, 5000).filter(_.kind != Kind.Late)
        val begins = f.zipWithIndex.filter(_._1.kind == Kind.Begin)
        val firstBegin = begins.map { case (e, j) => e.gtid -> j }.toMap
        begins.length == firstBegin.size &&
          firstBegin.keySet == f.map(_.gtid).toSet &&
          f.zipWithIndex.forall { case (e, j) => firstBegin(e.gtid) <= j }
      }
    }
    check("malformed envelopes do not decode") {
      val g = new Gen(5)
      g.file(0, 0L, Ref.WindowMs, 5000).filter(_.kind == Kind.Malformed)
        .forall(e => org.apache.spark.sql.graft.EnvelopeCodec.decode(e.bytes) == null)
    }
    check("reference top-1 reproduces the worked example (transaction_size = 1820)") {
      val top = Ref.top1(Ref.stats(Ref.aggregate(worked.iterator)), "transaction_size")
      top.size == 1820L && top.spend == 5L && top.affected == 6L
    }
    check("reference drops TRANSACTIONBEGIN and malformed rows (F1, F2)") {
      val kept = withBegin.filter(_.written)
      val top = Ref.top1(Ref.stats(Ref.aggregate(kept.iterator)), "transaction_size")
      top.gtid == "uuid-a:1" && top.size == 1820L && kept.size == worked.size + 1
    }
    check("conservation check fails when a row is dropped") {
      val expected = IndexedSeq(10L, 12L, 9L)
      Ref.unconserved(expected, Map(0L -> 10L, 1L -> 12L, 2L -> 9L)).isEmpty &&
        Ref.unconserved(expected, Map(0L -> 10L, 1L -> 11L, 2L -> 9L)) == Seq(1) &&
        Ref.unconserved(expected, Map(0L -> 10L, 2L -> 9L)) == Seq(1)
    }

    val spark = graft.Tables.session("pipebench-selftest", "local[2]", 2)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val raw = spark.createDataFrame(
        java.util.Arrays.asList(withBegin.map(e => Row(e.bytes)): _*),
        StructType(Seq(StructField("value", BinaryType))))
      val shaped = StreamingIngest.transformBinary(raw, "value")
      check("engine keeps exactly the rows the reference counts as written") {
        shaped.count() == withBegin.count(_.written)
      }
      check("engine top-1 on the fixture equals the reference top-1") {
        val start = new java.sql.Timestamp(1709251200000L)
        val end = new java.sql.Timestamp(1709251200000L + Ref.WindowMs)
        Ref.Metrics.forall { m =>
          val r = TransactionStats.top1ForRange(shaped, start, end, "5min", m).collect()
          val want = Ref.top1(Ref.stats(Ref.aggregate(withBegin.filter(_.written).iterator)), m)
          r.length == 1 && r(0).getAs[String]("gtid") == want.gtid &&
            r(0).getAs[Long]("transaction_size") == want.size &&
            r(0).getAs[Long]("transaction_spend_time") == want.spend &&
            r(0).getAs[Long]("transaction_affected_rows") == want.affected
        }
      }
    } finally spark.stop()

    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures > 0) sys.exit(1)
  }
}
