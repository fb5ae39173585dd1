package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ops.{Dedup, PairSpec, Vocab}
import graft.ops.PairSpec._
import graft.sources.BucketedLayout

case class DocChunk(doc_id: Long, text: String)

/** The full CDC-dedup lifecycle (round-5 verdict "next" #5): documents
  * stream in micro-batches; each batch's keys append to the PERSISTED
  * band-key index, and its near-dup candidate pairs (batch–batch and
  * batch–corpus) come from [[Dedup.pairs]] over that index with the
  * batch's doc ids as queries — the corpus is never re-shingled — then
  * fold into the bucketed groups artifact via [[Dedup.incrementalGroups]]. Every chunk boundary is a full kill + restart-from-checkpoint,
  * and one chunk's fold is deliberately REPLAYED to pin idempotence (a
  * crash between artifact write and checkpoint commit re-runs the batch —
  * folding already-certified pairs and re-appending already-present keys
  * must change nothing). Final groups ≡ a batch rebuild over the whole
  * corpus's band-collision pairs, with identical canonical min-id labels.
  */
class StreamingDedupGroupsSpec extends SparkSpec {
  import spark.implicits._

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

  test("index-screened batch pairs fold into the groups artifact across " +
      "kill/restart micro-batches ≡ batch rebuild; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val indexTable = "sdg_band_index"
    val groupsTable = "sdg_groups"
    reset(indexTable, groupsTable)

    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .collect().map(r => DocChunk(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id).toSeq
    val chunks = Seq(
      docs.filter(_.doc_id % 3 == 0), // interleaved splits: cross-chunk
      docs.filter(_.doc_id % 3 == 1), // near-dup pairs are guaranteed if
      docs.filter(_.doc_id % 3 == 2)) // the corpus has any pairs at all

    /** One micro-batch of the lifecycle. Idempotent as a whole: pairs are
      * DISTINCT, incrementalGroups over already-certified connectivity is
      * a fixpoint, and duplicate index keys are collapsed by every reader.
      *
      * Everything runs through `batch.sparkSession` — each micro-batch
      * executes in a CLONED session, and a relation resolved in a
      * different session keeps its cached file listing across this fold's
      * appends (the read would silently miss every batch after the first;
      * appendBandKeys refreshes the table in the session we are in).
      */
    def fold(batch: DataFrame): Unit = {
      val ss = batch.sparkSession
      Dedup.appendBandKeys(batch, indexTable)
      val ids = batch.select(col("doc_id")).collect().map(_.getLong(0))
      val pairs = Dedup.pairs(ss.table(indexTable), PairSpec(Given(Seq("band", "r0", "r1")),
        candidates = Candidates(None, Some(col("doc_id").isin(ids: _*))), verify = Keys))
      val updated =
        (if (ss.catalog.tableExists(groupsTable))
          Dedup.incrementalGroups(ss.table(groupsTable), pairs)
        else Dedup.dedupGroupsAuto(pairs))
          .localCheckpoint(true) // materialize BEFORE overwriting the input table
      reset(groupsTable)
      BucketedLayout.writeBucketed(updated, groupsTable, "doc_id", buckets = 8)
    }

    val ms = MemoryStream[DocChunk]
    val ck = tmpDir("sdg_ck")
    def runChunk(chunk: Seq[DocChunk]): Unit = {
      ms.addData(chunk) // BEFORE start: AvailableNow latches offsets at start
      val q = ms.toDF().writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) => fold(batch) }
        .start()
      q.drainGuarded()
      assertStreamClean("dedup_groups_stream", q); q.stop() // the KILL: next chunk restarts from the checkpoint
    }
    chunks.foreach(runChunk)
    spark.catalog.refreshTable(indexTable) // reads below are in THIS session

    def groupsOf(df: DataFrame): Set[(Long, Long)] =
      df.select(col("doc_id"), col("group_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = groupsOf(spark.table(groupsTable))

    // replay chunk 2 outside the stream (the crash-between-write-and-commit
    // path foreachBatch re-runs): the artifact must not change
    fold(chunks(1).toDF())
    assert(groupsOf(spark.table(groupsTable)) === streamed)

    // batch rebuild over the SAME pair rule on the whole corpus
    val rebuilt = groupsOf(Dedup.dedupGroupsAuto(Dedup.pairs(Vocab.hashTokenIdArrays(docs.toDF()),
      PairSpec(Grams(5), MinHash(4), Candidates(None), Keys))))
    assert(streamed === rebuilt)
    assert(streamed.nonEmpty)
    // the chunking actually exercised cross-chunk merges (a group spanning
    // docs that arrived in different micro-batches)
    val crossChunk = rebuilt.groupBy(_._2).values.count(g =>
      g.map(_._1 % 3).toSet.size > 1)
    assert(crossChunk > 0, "fixture chunking produced no cross-chunk group")
  }
}
