package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.TextOps

case class PostDocChunk(doc_id: Long, text: String)

/** The CDC half of the persisted BM25 postings index (the
  * StreamingVectorIndexSpec story on the lexical surface): an index built
  * once over the initial corpus takes per-micro-batch document appends
  * ([[TextOps.appendToPostings]]) with a kill/restart at every chunk
  * boundary, and serving from the final index must equal [[TextOps.
  * bm25Search]] over postings recomputed from the WHOLE corpus. Also pinned: a fully
  * replayed batch is a no-op (the ledger guard), and the torn window —
  * postings rows duplicated without their ledger commit — is invisible to
  * the serve path (per-(term, doc_id) dedup).
  */
class StreamingPostingsSpec extends SparkSpec {
  import spark.implicits._

  private val queries = Seq(
    (0L, "hash join batch"), (1L, "vector scan filter"),
    (2L, "window agg order"))

  private def reset(names: String*): Unit = names.foreach { name =>
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val wh = Option(java.net.URI.create(whConf).getPath).getOrElse(whConf)
    val dir = java.nio.file.Paths.get(wh, name)
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
  }

  private def served(table: String): Set[(Long, Long, Long, Long)] =
    TextOps.bm25Search(TextOps.Postings.Served(table), Left(queries))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_ppm"), r.getAs[Long]("rank"))).toSet

  test("per-batch appends across kill/restart ≡ recompute; replay and torn writes invisible") {
    implicit val sqlCtx = spark.sqlContext
    val table = "spo_postings"
    reset(table, table + "_len")

    val docsDf = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val rows = docsDf.collect()
      .map(r => PostDocChunk(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id).toSeq
    val cut = rows.size / 2
    TextOps.materializedPostings(rows.take(cut).toDF("doc_id", "text"), table)

    val arriving = rows.drop(cut)
    val ms = MemoryStream[PostDocChunk]
    val ck = tmpDir("spo_ck")
    def runChunk(chunk: Seq[PostDocChunk]): Unit = {
      ms.addData(chunk) // BEFORE start: AvailableNow latches offsets at start
      val q = ms.toDS().writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[PostDocChunk], _: Long) =>
          TextOps.appendToPostings(batch.toDF(), table)
        }
        .start()
      q.drainGuarded()
      assertStreamClean("postings_stream", q); q.stop() // the KILL: next chunk restarts from the checkpoint
    }
    val mid = arriving.size / 2
    Seq(arriving.take(mid), arriving.drop(mid)).foreach(runChunk)

    // appends ran in foreachBatch's CLONED session — refresh before
    // reading here (the cross-session file-listing lesson)
    spark.catalog.refreshTable(table)
    spark.catalog.refreshTable(table + "_len")

    val batchTwin = TextOps.bm25Search(
        TextOps.Postings.Recompute(rows.toDF("doc_id", "text")), Left(queries))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_ppm"), r.getAs[Long]("rank"))).toSet
    val afterStream = served(table)
    assert(afterStream === batchTwin)
    assert(spark.table(table + "_len").count() === rows.size.toLong)

    // a COMPLETED batch replayed wholesale is a no-op: the ledger already
    // holds every doc, so nothing is appended to either table
    val before = (spark.table(table).count(), spark.table(table + "_len").count())
    TextOps.appendToPostings(arriving.take(mid).toDF("doc_id", "text"), table)
    assert((spark.table(table).count(), spark.table(table + "_len").count()) === before)

    // the torn window: postings rows land, the ledger commit doesn't, and
    // the replay re-appends byte-identical rows — serving must not move
    // (per-(term, doc_id) dedup), even though the raw table now has dups
    val tornDoc = arriving.head.doc_id
    spark.table(table).filter(col("doc_id") === tornDoc)
      .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
      .bucketBy(32, "term").sortBy("term").saveAsTable(table)
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() > before._1) // dups really landed
    assert(served(table) === batchTwin)
  }
}
