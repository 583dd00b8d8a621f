package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming takedown door (graft.streaming.StreamingTakedown):
  * delete events arriving ON A STREAM drive TombLog.append + masked
  * serving mid-stream — the serving door never restarts. Pinned:
  *
  *  - a takedown wave landed by the door is honored by the NEXT
  *    serving trigger (no verdict names a taken-down carrier, and the
  *    batch equals a batch probe of the masked index bit-for-bit) —
  *    a SECOND wave of distinct ids too, in the serving door's session
  *    and in this one, both of which already read the log;
  *  - a repeated wave is a set-level no-op (audit: n_new_tombstones=0,
  *    total unchanged) — the anti-join-before-append discipline;
  *  - a forced replay (dropped commit marker, restart) rewrites the
  *    SAME audit bytes and leaves the log unchanged — the
  *    post-append-state audit makes foreachBatch's at-least-once
  *    side effect exactly-once in both log content and output.
  */
class StreamingTakedownSpec extends AnyFunSuite {

  test("takedown wave lands mid-stream: serving door honors it next trigger; repeat waves and forced replays are no-ops") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Dedup
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-td-idx").toString
    Dedup.persistTextProbeIndex(hist, dir)
    val probeSlice = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)

    // serving door
    val sCkpt = java.nio.file.Files.createTempDirectory("graft-td-sckpt").toString
    val sOut = java.nio.file.Files.createTempDirectory("graft-td-sout").toString
    val probeIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val serveQ = graft.streaming.StreamingDedup.run(
      probeIn.toDF().toDF("doc_id", "text"), hist = null, sOut, sCkpt,
      indexDir = Some(dir))
    // takedown door
    val tCkpt = java.nio.file.Files.createTempDirectory("graft-td-tckpt").toString
    val tOut = java.nio.file.Files.createTempDirectory("graft-td-tout").toString
    val delIn = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def startTakedown() = graft.streaming.StreamingTakedown.run(
      delIn.toDF().toDF("doc_id"), dir, tOut, tCkpt)
    val tdQ = startTakedown()
    try {
      probeIn.addData(probeSlice.toSeq)
      serveQ.processAllAvailable()
      val carriers = spark.read.parquet(s"$sOut/batch_id=0")
        .filter($"best_match".isNotNull)
        .select($"best_match").distinct().as[Long].collect().sorted
      assert(carriers.nonEmpty, "fixture must emit matches in batch 0")

      // wave 1 arrives ON THE STREAM while both doors run
      delIn.addData(carriers.toSeq: _*)
      tdQ.processAllAvailable()
      val a0 = spark.read.parquet(s"$tOut/batch_id=0")
        .select($"n_arrived", $"n_new_tombstones", $"n_tombstones_total",
          $"n_docs_served")
        .as[(Long, Long, Long, Long)].head()
      assert(a0._1 == carriers.length && a0._2 == carriers.length &&
        a0._3 == carriers.length,
        s"wave 1 audit wrong: $a0")
      val histCount = hist.count()
      assert(a0._4 == histCount - carriers.length,
        "served md5 store must shrink by exactly the wave")

      // the serving door's NEXT trigger masks the wave — no restart
      probeIn.addData(probeSlice.toSeq)
      serveQ.processAllAvailable()
      val b1 = spark.read.parquet(s"$sOut/batch_id=1")
      assert(b1.filter($"best_match".isin(carriers.toSeq: _*)).count() == 0,
        "a verdict still names a taken-down carrier after the streamed wave")
      val expect = Dedup.multiSignalProbeIndexed(
        probeSlice.toSeq.toDF("doc_id", "text"),
        Dedup.loadTextProbeIndex(spark, dir))
      assert(b1.count() == expect.count())
      assert(b1.except(expect).count() == 0 && expect.except(b1).count() == 0)

      // wave 2: DISTINCT ids (batch 1's own carriers), after both the
      // serving door's session and this one have read the log
      val carriers2 = b1.filter($"best_match".isNotNull)
        .select($"best_match").distinct().as[Long].collect().sorted
      assert(carriers2.nonEmpty, "fixture must emit matches in batch 1")
      delIn.addData(carriers2.toSeq: _*)
      tdQ.processAllAvailable()
      val nDead = (carriers.length + carriers2.length).toLong
      val a1 = spark.read.parquet(s"$tOut/batch_id=1")
        .select($"n_new_tombstones", $"n_tombstones_total", $"n_docs_served")
        .as[(Long, Long, Long)].head()
      assert(a1 == ((carriers2.length.toLong, nDead, histCount - nDead)),
        s"wave 2 audit wrong: $a1")
      probeIn.addData(probeSlice.toSeq)
      serveQ.processAllAvailable()
      val b2 = spark.read.parquet(s"$sOut/batch_id=2")
      val dead = (carriers ++ carriers2).toSeq
      assert(b2.filter($"best_match".isin(dead: _*)).count() == 0,
        "a verdict names a carrier of the second wave")
      val probeDf = probeSlice.toSeq.toDF("doc_id", "text")
      val served = Dedup.multiSignalProbeIndexed(probeDf,
        Dedup.loadTextProbeIndex(spark, dir))
      val rebuilt = Dedup.multiSignalProbeIndexed(probeDf,
        Dedup.buildTextProbeIndex(hist.filter(!$"doc_id".isin(dead: _*))))
      assert(served.except(rebuilt).count() == 0 &&
        rebuilt.except(served).count() == 0,
        "this session's served index must equal rebuild-minus-deleted")
      assert(b2.except(served).count() == 0 && served.except(b2).count() == 0)

      // wave 3 repeats wave 1's ids: set-level no-op, audited as such
      delIn.addData(carriers.toSeq: _*)
      tdQ.processAllAvailable()
      val a2 = spark.read.parquet(s"$tOut/batch_id=2")
        .select($"n_arrived", $"n_new_tombstones", $"n_tombstones_total")
        .as[(Long, Long, Long)].head()
      assert(a2 == ((carriers.length.toLong, 0L, nDead)),
        s"repeat wave must append nothing: $a2")
    } finally { serveQ.stop(); tdQ.stop() }

    // forced replay of the takedown door: drop the LAST commit marker
    // so restart re-executes batch 2 (the repeat wave) from the log
    // state its first run left
    val auditBefore = spark.read.parquet(tOut).orderBy($"batch_id")
      .collect().toSeq.map(_.toString)
    val logBefore = graft.ops.DurableIndex.textProbe.tombstones(spark, dir)
      .map(_.count()).getOrElse(0L)
    val commits = new java.io.File(s"$tCkpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.map(_.getName.toLong).toSeq == Seq(0L, 1L, 2L))
    assert(commits.last.delete())
    val crc = new java.io.File(s"$tCkpt/commits/.2.crc")
    if (crc.exists()) assert(crc.delete())
    val tdQ2 = startTakedown()
    try tdQ2.processAllAvailable() finally tdQ2.stop()
    val auditAfter = spark.read.parquet(tOut).orderBy($"batch_id")
      .collect().toSeq.map(_.toString)
    assert(auditAfter == auditBefore,
      "replayed takedown batch must rewrite identical audit bytes")
    assert(graft.ops.DurableIndex.textProbe.tombstones(spark, dir)
      .map(_.count()).getOrElse(0L) == logBefore,
      "replay must not grow the delete log")
  }
}
