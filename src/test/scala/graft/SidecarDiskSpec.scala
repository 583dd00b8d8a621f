package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusIndexes, Dedup, DurableIndex, Multimodal, Similarity}

/** The DURABLE sidecar layer: `CorpusIndexes.persistSidecars` writes
  * the session sidecars (shingle/token/band/aHash/labels/IVF/PQ) as
  * bucketed parquet tables under a caller-given root, and any session
  * pointed at that root via `graft.sidecar.dir` serves every consumer
  * from disk instead of rebuilding. Asserted here:
  *
  *  - RESULT IDENTITY: the four sidecar-heaviest registered queries
  *    (d04 shingles, t11 shingles+labels, m12 aHash+image labels, s08
  *    IVF+PQ) return row-identical results from the disk form and the
  *    session form — the spec the round-12 verdict names.
  *  - The disk path is REALLY exercised (the reading session's plans
  *    scan the sidecar root; the catalog holds the registered tables).
  *  - BUCKETED LAYOUT: an equality filter on the bucket column prunes
  *    to 1 of 8 buckets, and a bucket-column aggregate runs with zero
  *    exchanges (the BucketingSpec discipline on the persisted index).
  *  - SNAPSHOT GUARD: a root whose `_graft_source` marker names a
  *    different corpus dir is ignored — consumers silently rebuild.
  *  - The DURABLE INDEX LIFECYCLE TABLE: every `DurableIndex` family
  *    (text probe, image, video, audio, IVF, PQ, SRP) passes every
  *    lifecycle row — refresh, compaction, masked deletes, the fold and
  *    the re-add guard — plus its family-specific rows.
  *  - CRASH INJECTION at every filesystem step of the generation swap.
  */
class SidecarDiskSpec extends AnyFunSuite {

  private val keys = Seq("d04_shingle_jaccard", "t11_training_selection",
    "m12_image_dedup_report", "s08_knn_ivfpq")

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecars").toString
    CorpusIndexes.persistSidecars(TestSpark.spark, TestSpark.sfDir, dir)
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private def diskSession(): SparkSession = {
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set(CorpusIndexes.SidecarDirKey, root)
    s2
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case _: ReusedExchangeExec => Seq.empty
    case s: ShuffleExchangeLike => s +: s.children.flatMap(shuffles)
    case other => other.children.flatMap(shuffles)
  }

  test("disk-sidecar results are identical to session-sidecar results (d04/t11/m12/s08)") {
    val base = TestSpark.spark
    val s2 = diskSession()
    keys.foreach { q =>
      val expect = rows(SparkEntry.queries(q)(base, TestSpark.sfDir))
      val disk = SparkEntry.queries(q)(s2, TestSpark.sfDir)
      assert(rows(disk) == expect, s"$q: disk form diverged from session form")
    }
    // the disk path was really taken: the registered tables exist and
    // a consumer plan scans files under the sidecar root
    assert(s2.catalog.tableExists(CorpusIndexes.tableName(root, "shingles")))
    val sh = graft.ops.Dedup.shingleJaccardPairs(s2, TestSpark.sfDir)
    sh.collect()
    val scanned = scans(sh.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.exists(_.contains(root)),
      s"expected a scan under $root, got $scanned")
  }

  test("persisted sidecars are bucketed: filter prunes to one bucket, bucket-key aggregate has zero exchanges") {
    val s2 = diskSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val sh = CorpusIndexes.readSidecar(s2, root, "shingles")
      val someHash = sh.select("shash").head().getLong(0)
      val filtered = sh.filter(sh("shash") === someHash)
      filtered.collect()
      val sc = scans(filtered.queryExecution.executedPlan)
      assert(sc.nonEmpty)
      assert(sc.head.metadata.get("SelectedBucketsCount").exists(_.contains("1 out of 8")),
        s"bucket pruning missing: ${sc.head.metadata.get("SelectedBucketsCount")}")
      val agg = sh.groupBy("shash").count()
      agg.collect()
      assert(shuffles(agg.queryExecution.executedPlan).isEmpty,
        "bucket-column aggregate should not exchange")
    } finally s2.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("a sidecar root written for a different corpus dir is ignored") {
    val s2 = TestSpark.spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set(CorpusIndexes.SidecarDirKey, root)
    // same root, different data dir: the marker names sf0.001, so a
    // query over another dir must rebuild in-session — and stay right
    val otherDir = java.nio.file.Files.createTempDirectory("graft-otherdocs").toString
    import s2.implicits._
    Seq((0L, "alpha beta gamma delta epsilon zeta"),
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "totally different words here now yes"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$otherDir/documents.parquet")
    val pairs = graft.ops.Dedup.shingleJaccardPairs(s2, otherDir)
    pairs.collect()
    val scanned = scans(pairs.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(!scanned.exists(_.contains(root)),
      "mismatched-source sidecar must not be read")
  }

  test("StreamingDedup run against the disk index equals the batch answer") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val newDocs = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-sd-idx").toString
    graft.ops.Dedup.persistTextProbeIndex(hist, idxDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-ckpt2").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sd-out2").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // hist is NOT passed: the run must stand entirely on the disk index
    val q = graft.streaming.StreamingDedup.run(stream,
      hist = null, out, ckpt, indexDir = Some(idxDir))
    try {
      input.addData(newDocs.take(newDocs.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(newDocs.drop(newDocs.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = graft.ops.Dedup.incrementalDedupMulti(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("incremental probe-index refresh equals a from-scratch rebuild, including a cap crossing") {
    // the lifecycle table proves refresh == rebuild over the corpus;
    // this is the text family's cap-crossing witness: 40 identical
    // docs fit under the cap, 30 more identical arrivals push the
    // shared band keys over 64 — the refreshed load must drop them
    // exactly like a scratch build
    val s = TestSpark.spark
    import s.implicits._
    val mk = (ids: Range) => ids.map(i =>
      (i.toLong, "the same boilerplate sentence repeated for the cap test"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-cap").toString
    Dedup.persistTextProbeIndex(mk(0 until 40), dir)
    val before = Dedup.loadTextProbeIndex(s, dir)
    assert(before.cappedBands.count() > 0, "under the cap: bands kept")
    DurableIndex.textProbe.refresh(mk(40 until 70), dir)
    val after = Dedup.loadTextProbeIndex(s, dir)
    assert(after.cappedBands.count() == 0,
      "over the cap after the delta: every shared band key must drop")
    assert(Dedup.buildTextProbeIndex(mk(0 until 70)).cappedBands.count() == 0)
    assert(after.md5s.count() == 70, "md5 store keeps appending")
  }

  test("StreamingDedup honors a takedown between triggers without restart") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Dedup
    val docs = Tables.documents(spark, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-del-live").toString
    Dedup.persistTextProbeIndex(hist, dir)
    val probeSlice = docs.filter($"doc_id" % 5 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pdl-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-pdl-out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamingDedup.run(stream, hist = null, out, ckpt,
      indexDir = Some(dir))
    try {
      input.addData(probeSlice.toSeq)
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$out/batch_id=0")
      val carriers = b0.filter($"best_match".isNotNull)
        .select($"best_match").distinct().as[Long].collect()
      assert(carriers.nonEmpty, "fixture must emit matches in batch 0")
      // takedown lands BETWEEN triggers — no restart
      DurableIndex.textProbe.delete(carriers.toSeq.toDF("doc_id"), dir)
      input.addData(probeSlice.toSeq) // the SAME docs re-probe
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$out/batch_id=1")
      val still = b1.filter($"best_match".isin(carriers.toSeq: _*)).count()
      assert(still == 0,
        s"$still verdict(s) still name a taken-down carrier after the delete")
      // and the next batch equals a batch probe of the masked index
      val expect = Dedup.multiSignalProbeIndexed(
        probeSlice.toSeq.toDF("doc_id", "text"),
        Dedup.loadTextProbeIndex(spark, dir))
      assert(b1.count() == expect.count())
      assert(b1.except(expect).count() == 0 && expect.except(b1).count() == 0)
    } finally q.stop()
  }

  test("an index EMPTIED by takedown stays maintainable and readable (the TombLog property's crash)") {
    // Found by TombLogPropertySpec (seed hotP0i4VEo6…): delete EVERY
    // id, fold, then run maintenance again. The fold leaves a
    // generation with ZERO part files (the bucketed writer emits none
    // for zero rows), and compactBucketedTable's plain parquet read
    // died on footer inference — a takedown wave that empties a small
    // index bricked all later maintenance. Pinned here
    // deterministically: the second compact no-ops, the delete→fold
    // cycle keeps working on the empty generation, a fresh catalog
    // (new session) reads the empty generation via the schema marker,
    // and a re-add restores service.
    val s = TestSpark.spark
    import s.implicits._
    import graft.ops.{CorpusIndexes, Multimodal}
    val ids = (0L until 8L)
    def media(sel: Seq[Long]) =
      sel.sorted.map(id => (id, Multimodal.PngCodec.encode(id)))
        .toDF("doc_id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft-iidx-empty").toString
    DurableIndex.image.persist(media(ids), dir)
    DurableIndex.image.delete(ids.toDF("doc_id"), dir)
    assert(DurableIndex.image.serving(s, dir).head.count() == 0L, "all masked")
    DurableIndex.image.compact(s, dir) // folds: zero part files remain
    DurableIndex.image.compact(s, dir) // the crash site: must no-op
    assert(DurableIndex.image.serving(s, dir).head.count() == 0L)
    // the delete→fold cycle still works against the empty generation
    DurableIndex.image.delete(ids.toDF("doc_id"), dir)
    intercept[IllegalArgumentException] {
      DurableIndex.image.refresh(media(ids.take(2)), dir)
    }
    DurableIndex.image.compact(s, dir)
    // a FRESH session has no catalog entry: drop it and prove the
    // empty generation is still readable (schema marker, not footer)
    s.sql(s"DROP TABLE IF EXISTS " +
      CorpusIndexes.tableName(dir, "png_ahash"))
    assert(DurableIndex.image.serving(s, dir).head.count() == 0L)
    assert(DurableIndex.image.serving(s, dir).head.columns.contains("ahash_hi"),
      "the marker must reproduce the real schema, not a stub")
    // service restores on re-add
    DurableIndex.image.refresh(media(ids.take(3)), dir)
    assert(DurableIndex.image.serving(s, dir).head.select($"doc_id").as[Long]
      .collect().toSet == ids.take(3).toSet)
  }

  test("writeCuratedCorpus ships exactly the d27 survivors, partition-pruned by source") {
    val s = TestSpark.spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-curated").toString
    graft.ops.Dedup.writeCuratedCorpus(s, TestSpark.sfDir, out)
    val decision = graft.ops.Dedup.canonicalSelection(s, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val allIds = Tables.documents(s, TestSpark.sfDir)
      .select($"doc_id").as[Long].collect().toSet
    val expect = allIds.filter(id => decision.getOrElse(id, true))
    val shipped = s.read.parquet(out)
    assert(shipped.select($"doc_id").as[Long].collect().toSet == expect)
    assert(expect.size < allIds.size, "some documents must actually drop")
    // source partitioning really prunes: a one-source read scans a
    // strict subset of the files
    val one = s.read.parquet(out).filter($"source" === "src0")
    one.collect()
    val scanned = scans(one.queryExecution.executedPlan)
    assert(scanned.nonEmpty && scanned.forall(_.metadata("Location").contains(out)))
    val total = new java.io.File(out).listFiles().count(_.getName.startsWith("source="))
    assert(total > 1, "multiple source partitions must exist")
    assert(one.queryExecution.executedPlan.toString.contains("source=") ||
      scanned.exists(_.partitionFilters.nonEmpty),
      "the source predicate must reach the scan as a partition filter")
  }

  test("video frame sidecar serves m15/m17 from disk: identical results, scan under the root, no GIF decode") {
    val base = TestSpark.spark
    val s2 = diskSession()
    Seq("m15_video_frame_dedup", "m17_incremental_video").foreach { q =>
      val expect = rows(SparkEntry.queries(q)(base, TestSpark.sfDir))
      assert(rows(SparkEntry.queries(q)(s2, TestSpark.sfDir)) == expect,
        s"$q: disk form diverged from session form")
    }
    assert(s2.catalog.tableExists(CorpusIndexes.tableName(root, "gif_frames")))
    // the disk path is really taken AND no decode pass runs: the plan
    // scans gif_frames under the root and never touches documents
    // (the GIF encode source)
    val vd = graft.ops.Multimodal.videoFrameDedup(s2, TestSpark.sfDir)
    vd.collect()
    val scanned = scans(vd.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.exists(_.contains(s"$root/gif_frames")),
      s"expected a gif_frames scan under $root, got $scanned")
    assert(!scanned.exists(_.contains("documents")),
      "disk-form video dedup must not re-read (and re-encode) the corpus")
  }

  test("patch sidecar serves m26/m28 from disk: identical results, scan under the root, no PNG decode") {
    val base = TestSpark.spark
    val s2 = diskSession()
    Seq("m26_vit_patches", "m28_repeated_patches").foreach { q =>
      val expect = rows(SparkEntry.queries(q)(base, TestSpark.sfDir))
      assert(rows(SparkEntry.queries(q)(s2, TestSpark.sfDir)) == expect,
        s"$q: disk form diverged from session form")
    }
    assert(s2.catalog.tableExists(CorpusIndexes.tableName(root, "png_patches")))
    // the disk path is really taken AND no decode runs: the m28 plan
    // scans png_patches under the root, never documents (the PNG
    // encode source), and its pkey aggregate needs no exchange before
    // the aggregate itself (bucketed on pkey)
    val rp = graft.ops.Multimodal.repeatedPatches(s2, TestSpark.sfDir)
    rp.collect()
    val scanned = scans(rp.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.exists(_.contains(s"$root/png_patches")),
      s"expected a png_patches scan under $root, got $scanned")
    assert(!scanned.exists(_.contains("documents")),
      "disk-form patch audit must not re-read (and re-decode) the corpus")
  }

  test("StreamingVideoDedup run from a durable index dir equals batch m17 with no run-start decode") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    val idxDir = java.nio.file.Files.createTempDirectory("graft-vidx").toString
    DurableIndex.video.persist(
      Multimodal.gifTable(spark, TestSpark.sfDir).filter($"doc_id" % 5 =!= 0).toDF(),
      idxDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.GifCodec.encode(id)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vidx-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-vidx-out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    // index is NOT passed: the run must stand entirely on the disk form
    val q = graft.streaming.StreamingVideoDedup.run(stream, index = null,
      out, ckpt, indexDir = Some(idxDir))
    try {
      input.addData(newRows.take(newRows.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(newRows.drop(newRows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Multimodal.incrementalVideoDedup(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("StreamingImageDedup run from a durable index dir equals batch m13") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Multimodal
    val idxDir = java.nio.file.Files.createTempDirectory("graft-iidx").toString
    DurableIndex.image.persist(
      Multimodal.pngTable(spark, TestSpark.sfDir).filter($"doc_id" % 5 =!= 0).toDF(),
      idxDir)
    val newRows = Tables.documents(spark, TestSpark.sfDir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long].collect().sorted
      .map(id => (id, Multimodal.PngCodec.encode(id)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-iidx-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-iidx-out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    val q = graft.streaming.StreamingImageDedup.run(stream, index = null,
      out, ckpt, indexDir = Some(idxDir))
    try {
      input.addData(newRows.take(newRows.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(newRows.drop(newRows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Multimodal.incrementalImageDedup(spark, TestSpark.sfDir)
    assert(streamed.count() == batchRun.count())
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("audio fingerprint sidecar serves m14/m18 from disk: identical results, scan under the root, no WAV decode of the corpus") {
    val base = TestSpark.spark
    val s2 = diskSession()
    Seq("m14_audio_nn", "m18_incremental_audio").foreach { q =>
      val expect = rows(SparkEntry.queries(q)(base, TestSpark.sfDir))
      assert(rows(SparkEntry.queries(q)(s2, TestSpark.sfDir)) == expect,
        s"$q: disk form diverged from session form")
    }
    assert(s2.catalog.tableExists(CorpusIndexes.tableName(root, "wav_fp")))
    val ad = graft.ops.Multimodal.incrementalAudioDedup(s2, TestSpark.sfDir)
    ad.collect()
    val scanned = scans(ad.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanned.exists(_.contains(s"$root/wav_fp")),
      s"expected a wav_fp scan under $root, got $scanned")
    assert(!scanned.exists(_.contains("documents")),
      "disk-form audio dedup must not re-read (and re-encode) the corpus")
  }

  test("StreamingAnn serves the upserted sidecar without a rebuild, equal to the batch probe") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Similarity
    val all = Similarity.normedVectors(spark, TestSpark.sfDir)
    val hist = all.filter($"vec_id" % 7 =!= 2)
    val arrivals = Tables.embeddings(spark, TestSpark.sfDir)
      .filter($"vec_id" % 7 === 2).select($"vec_id", $"embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ann-upsert").toString
    DurableIndex.ivf.persist(hist, root)
    DurableIndex.ivf.refresh(arrivals, root)
    val queries = Tables.embeddings(spark, TestSpark.sfDir)
      .filter($"vec_id" % 13 === 1)
      .select($"vec_id".as("q_id"), $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-up-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ann-up-out").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("q_id", "embedding")
    val q = graft.streaming.StreamingAnn.runFromSidecar(stream, root, out, ckpt)
    try {
      input.addData(queries.take(queries.length / 2).toSeq)
      q.processAllAvailable()
      input.addData(queries.drop(queries.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out).drop("batch_id")
    val batchRun = Similarity.ivfProbeBatch(
      Tables.embeddings(spark, TestSpark.sfDir).filter($"vec_id" % 13 === 1)
        .select($"vec_id".as("q_id"), $"embedding"),
      DurableIndex.ivf.raw(spark, root).head)
    assert(streamed.count() == batchRun.count() && streamed.count() > 0)
    assert(streamed.except(batchRun).count() == 0)
    assert(batchRun.except(streamed).count() == 0)
  }

  test("cluster-maintenance label lifecycle: fold equals from-scratch d32 labels, snapshots reset, folded table serves generation two") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    import graft.ops.Dedup
    val arrivals = Tables.documents(spark, TestSpark.sfDir)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val slices = Seq(arrivals.take(arrivals.length / 2),
      arrivals.drop(arrivals.length / 2))
    val out = java.nio.file.Files.createTempDirectory("graft-fold-out").toString
    val st = java.nio.file.Files.createTempDirectory("graft-fold-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fold-ckpt").toString
    val lblRoot = java.nio.file.Files.createTempDirectory("graft-fold-lbl").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingClusterMaintenance.run(
      input.toDF().toDF("doc_id", "text"), TestSpark.sfDir, out, st, ckpt)
    try slices.foreach { sl => input.addData(sl.toSeq); q.processAllAvailable() }
    finally q.stop()

    graft.streaming.StreamingClusterMaintenance.foldIntoSidecar(
      spark, TestSpark.sfDir, st, lblRoot)

    // (a) fold == from-scratch d32: the folded table must equal the
    // label table derived from the BATCH d32 verdicts (the
    // oracle-checked incrementalClusters output) applied over the
    // historical labeling — built here independently of the fold code
    // path's input (streamed state).
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hist = Dedup.histClusterLabels(spark, TestSpark.sfDir)
    val verdicts = Dedup.incrementalClusters(spark, TestSpark.sfDir)
      .select($"doc_id", $"cluster_id")
    val expected = labelMap(hist) ++ labelMap(verdicts)
    val folded = Dedup.loadMaintLabels(spark, lblRoot)
    assert(labelMap(folded) == expected,
      "folded sidecar must equal from-scratch d32 labels over history")
    assert(expected.nonEmpty)

    // (b) snapshots reset: per-tick driver state is now bounded by the
    // fold cadence — nothing left to accrete under stateDir.
    val leftover = new java.io.File(st).listFiles()
      .filter(_.getName.startsWith("batch_id="))
    assert(leftover.isEmpty, s"snapshots survive the fold: ${leftover.mkString(",")}")

    // (c) generation handoff: a fresh run served from the folded
    // sidecar starts at batch 0 with empty state; re-feeding the same
    // arrivals must label every arrival with its FOLDED cluster id
    // (gen-2 contraction against current labels composes — the
    // foldMaintenanceLabels edge-union argument, observed end to end).
    val st2 = java.nio.file.Files.createTempDirectory("graft-fold-st2").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-fold-out2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-fold-ck2").toString
    val input2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q2 = graft.streaming.StreamingClusterMaintenance.run(
      input2.toDF().toDF("doc_id", "text"), TestSpark.sfDir, out2, st2, ckpt2,
      labelsRoot = Some(lblRoot))
    try { input2.addData(arrivals.toSeq); q2.processAllAvailable() }
    finally q2.stop()
    val gen2 = labelMap(spark.read.parquet(s"$st2/batch_id=0"))
    val foldedMap = labelMap(folded)
    arrivals.map(_._1).foreach { d =>
      assert(gen2.get(d) == foldedMap.get(d),
        s"arrival $d: gen-2 label ${gen2.get(d)} != folded ${foldedMap.get(d)}")
    }
  }

  test("compactSidecars leaves every consumer result unchanged, one file per bucket") {
    val base = TestSpark.spark
    val before = rows(SparkEntry.queries("d04_shingle_jaccard")(diskSession(), TestSpark.sfDir))
    CorpusIndexes.compactSidecars(base, root)
    Seq("shingles", "bands").foreach { key =>
      val n = new java.io.File(s"$root/$key").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(n == 8, s"$key: expected one file per bucket after compaction, got $n")
    }
    val after = rows(SparkEntry.queries("d04_shingle_jaccard")(diskSession(), TestSpark.sfDir))
    assert(after == before && after.nonEmpty,
      "sidecar compaction must be invisible to consumers")
  }

  // ---- the durable-index lifecycle table ----------------------------
  // Every family in `families` runs every row. The lifecycle group:
  // (1) refresh equals a rebuild, through the interleaved
  // persist/refresh/compact/refresh cadence a crawl campaign runs;
  // (2) compaction restores one file per bucket with serving unchanged.
  // The delete group: (3) masked serving equals rebuild-minus-deleted;
  // (4) the fold removes rows physically and clears EXACTLY the folded
  // log rows (a delete landing mid-fold survives it); (5) re-add is
  // refused until the fold, and a post-fold delete starts a fresh log
  // that masks at once and folds again. "Rebuild" is the family's own
  // row function over the arrivals with the root's frozen model, and
  // the comparison covers the served tables AND the family's serving
  // view. Family-specific rows ride along as extras; each group's test
  // name is the table's label for it.

  private case class Fam(
      index: DurableIndex,
      arrivals: SparkSession => DataFrame,
      lifecycleTest: String,
      deletesTest: String,
      view: Seq[DataFrame] => Seq[DataFrame] = _ => Nil,
      lifecycleExtra: (String, DataFrame) => Unit = (_, _) => (),
      deletesExtra: (String, DataFrame) => Unit = (_, _) => ())

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix.replace(' ', '-')).toString

  private def snap(frames: Seq[DataFrame]): Seq[Seq[String]] =
    frames.map(df => rows(df).sorted)

  /** Row-set equality that reports sizes, not the rows themselves. */
  private def assertSame(got: Seq[Seq[String]], want: Seq[Seq[String]],
                         what: String): Unit = {
    val same = got == want
    assert(same, s"$what: ${got.map(_.size)} rows vs ${want.map(_.size)}, " +
      s"${got.zip(want).map { case (g, w) => g.diff(w).size }} differ")
  }

  private def served(f: Fam, root: String): Seq[Seq[String]] = {
    val ts = f.index.serving(TestSpark.spark, root)
    snap(ts ++ f.view(ts))
  }

  private def rebuilt(f: Fam, arrivals: DataFrame, root: String): Seq[Seq[String]] = {
    val ts = f.index.rows(arrivals, root)
    snap(ts ++ f.view(ts))
  }

  private def idSet(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getLong(0)).toSet

  /** Part files per bucket id, for each data table of the root. */
  private def filesPerBucket(f: Fam, root: String): Seq[Map[String, Int]] =
    f.index.tables.map { case (key, _) =>
      new java.io.File(s"$root/$key").listFiles().map(_.getName)
        .filter(_.startsWith("part-"))
        .groupBy(n => "_(\\d+)\\.c\\d+".r.findFirstMatchIn(n).get.group(1))
        .map { case (b, fs) => b -> fs.length }
    }

  private def lifecycleRows(f: Fam): Unit = {
    val s = TestSpark.spark
    val all = f.arrivals(s).localCheckpoint()
    // day 0 is the model's corpus; days 1 and 2 both carry seed ids
    // (< 16) — the codebook-pollution trap for the IVF/PQ families
    val id = col(f.index.idCol)
    def day(k: Int) =
      if (k == 0) all.filter(id % 7 =!= 2) else all.filter(id % 7 === 2 && id % 2 === k - 1)
    val root = tmp(s"graft-life-${f.index.name}")
    f.index.persist(day(0), root)
    f.index.refresh(day(1), root)
    f.index.compact(s, root)
    f.index.refresh(day(2), root)
    val want = rebuilt(f, all, root)
    assert(want.forall(_.nonEmpty), s"${f.index.name}: empty fixture")
    assertSame(served(f, root), want,
      s"${f.index.name}: refresh/compact/refresh must equal a rebuild")
    assert(filesPerBucket(f, root).forall(_.values.exists(_ > 1)),
      s"${f.index.name}: fixture must leave several files in some bucket")
    f.index.compact(s, root)
    assert(filesPerBucket(f, root).forall(_.values.forall(_ == 1)),
      s"${f.index.name}: compaction must restore one file per bucket")
    assertSame(served(f, root), want,
      s"${f.index.name}: compaction must not change a served row")
    f.lifecycleExtra(root, day(0))
  }

  private def deleteRows(f: Fam): Unit = {
    val s = TestSpark.spark
    val id = col(f.index.idCol)
    val name = f.index.name
    val all = f.arrivals(s).localCheckpoint()
    val root = tmp(s"graft-del-$name")
    f.index.persist(all, root)
    val dead = all.filter(id % 11 === 3).select(id).localCheckpoint()
    val deadIds = idSet(dead, f.index.idCol)
    // two waves: the log APPENDS like the index it shadows
    f.index.delete(dead.filter(id % 2 === 0), root)
    f.index.delete(dead.filter(id % 2 === 1), root)
    val live = all.join(dead, Seq(f.index.idCol), "left_anti")
    assertSame(served(f, root), rebuilt(f, live, root),
      s"$name: masked serving must equal rebuild-minus-deleted")
    val observable = served(f, root) != rebuilt(f, all, root)
    assert(observable, s"$name: deletes never served")

    // a tombstoned id cannot re-enter before the fold
    val deadOne = all.filter(id === 3L)
    intercept[IllegalArgumentException](f.index.refresh(deadOne, root))

    // the fold, with a delete landing after its log snapshot was pinned
    var lateLanded = false
    CorpusIndexes.crashHook = pt => if (pt == "tmp-written" && !lateLanded) {
      lateLanded = true
      f.index.delete(all.filter(id === 5L), root)
    }
    try f.index.compact(s, root) finally CorpusIndexes.crashHook = _ => ()
    assert(lateLanded)
    f.index.tables.foreach { case (key, _) =>
      val kept = idSet(s.read.parquet(s"$root/$key"), f.index.keyCol)
      assert(kept.intersect(deadIds).isEmpty, s"$name: $key keeps folded rows")
      assert(kept.contains(5L), s"$name: $key folded the late delete")
    }
    assert(f.index.tombstones(s, root).map(idSet(_, f.index.keyCol)) == Some(Set(5L)),
      s"$name: the fold must clear exactly the folded log rows")
    val live2 = live.filter(id =!= 5L)
    assertSame(served(f, root), rebuilt(f, live2, root),
      s"$name: the fold must not change a served row")

    // after the fold the id is free again
    f.index.refresh(deadOne, root)
    assertSame(served(f, root), rebuilt(f, live2.union(deadOne), root),
      s"$name: the re-add must land and serve")
    // a post-fold delete starts a fresh log, masks at once, folds again
    f.index.compact(s, root)
    assert(f.index.tombstones(s, root).isEmpty)
    f.index.delete(deadOne, root)
    assertSame(served(f, root), rebuilt(f, live2, root),
      s"$name: a post-fold delete must mask immediately")
    f.index.compact(s, root)
    f.index.tables.foreach { case (key, _) =>
      assert(!idSet(s.read.parquet(s"$root/$key"), f.index.keyCol).contains(3L),
        s"$name: the second fold must remove the re-deleted rows from $key")
    }
    f.deletesExtra(root, all)
  }

  private def docs(s: SparkSession) =
    Tables.documents(s, TestSpark.sfDir).select("doc_id", "text")
  private def vecs(s: SparkSession) =
    Tables.embeddings(s, TestSpark.sfDir).select("vec_id", "embedding")
  private def vecQueries(s: SparkSession) =
    vecs(s).filter(col("vec_id") % 13 === 1).toDF("q_id", "embedding")

  /** IVF: the codebook stays day 0's through refreshes that append seed
    * ids (< 16), every query is served under it, and cells no
    * retrained-vs-frozen assignment change touches serve identically
    * under the retrained full rebuild.
    */
  private def ivfCodebookRows(root: String, day0: DataFrame): Unit = {
    val s = TestSpark.spark
    import s.implicits._
    val fresh = tmp("graft-ivf-day0")
    DurableIndex.ivf.persist(day0, fresh)
    val cb = Similarity.ivfCodebook(s, root).localCheckpoint()
    assert(rows(cb.orderBy($"cell_id")) ==
      rows(Similarity.ivfCodebook(s, fresh).orderBy($"cell_id")),
      "refreshes must not unfreeze the persisted codebook")
    val index = DurableIndex.ivf.serving(s, root).head
    val queries = vecQueries(s)
    assert(Similarity.ivfProbeBatch(queries, index, excludeSelf = false,
        codebook = Some(cb)).select($"q_id").distinct().count() == queries.count(),
      "a query vanished from serving — codebook not frozen")
    val retrained = Similarity.ivfIndex(s, TestSpark.sfDir)
    val moved = index.select($"vec_id", $"cell_id")
      .join(retrained.select($"vec_id", $"cell_id".as("r_cell")), "vec_id")
      .filter($"cell_id" =!= $"r_cell")
    val touched = moved.select($"cell_id").union(moved.select($"r_cell"))
      .distinct().as[Long].collect().toSeq
    def untouched(df: DataFrame) =
      rows(df.filter(!$"q_cell".isin(touched: _*)).drop("q_cell").orderBy($"q_id", $"rank"))
    val fromFrozen = untouched(Similarity.ivfProbeBatchWithCell(queries, index,
      excludeSelf = false, codebook = Some(cb)))
    assert(fromFrozen == untouched(
      Similarity.ivfProbeBatchWithCell(queries, retrained, excludeSelf = false)),
      "unaffected cells must serve identically under append and retrain")
  }

  /** IVF: the streaming ingest door's serving view masks deletes too. */
  private def ivfIngestMasks(root: String, all: DataFrame): Unit = {
    val s = TestSpark.spark
    val emptyDelta = tmp("graft-ivf-del-d")
    assertSame(snap(Seq(graft.streaming.StreamingAnnIngest.servingIndex(s, root, emptyDelta))),
      snap(DurableIndex.ivf.serving(s, root)), "IVF ingest-door serving")
  }

  /** PQ: the codebook stays day 0's, and ADC serving over the refreshed
    * codes equals serving the frozen rebuild.
    */
  private def pqCodebookRows(root: String, day0: DataFrame): Unit = {
    val s = TestSpark.spark
    import s.implicits._
    val fresh = tmp("graft-pq-day0")
    DurableIndex.pq.persist(day0, fresh)
    val cb = Similarity.pqCodebook(s, root)
    assert(rows(cb.orderBy($"m", $"k")) ==
      rows(Similarity.pqCodebook(s, fresh).orderBy($"m", $"k")),
      "refreshes must not touch the persisted codebook")
    def serve(codes: DataFrame) = rows(Similarity.pqServeShortlist(
      vecs(s).filter($"vec_id" % 13 === 1), codes, cb).orderBy($"q_id", $"srank"))
    val served = serve(DurableIndex.pq.serving(s, root).head)
    assert(served.nonEmpty)
    assertSame(Seq(served), Seq(serve(DurableIndex.pq.rows(vecs(s), root).head)),
      "PQ ADC serving over the refreshed codes")
  }

  /** SRP: the registered s26 equals probing a persisted historical slice
    * with the arrival signatures — the disk form of the query.
    */
  private def srpRegisteredRow(root: String, day0: DataFrame): Unit = {
    val s = TestSpark.spark
    import s.implicits._
    val histDisk = tmp("graft-srp-hist")
    DurableIndex.srp.persist(vecs(s).filter($"vec_id" % 7 =!= 2), histDisk)
    val arrSigs = Similarity.srpSignatures(vecs(s).filter($"vec_id" % 7 === 2))
      .toDF("q_id", "q_sig")
    assert(rows(Similarity.srpProbe(DurableIndex.srp.serving(s, histDisk).head, arrSigs, k = 8))
      == rows(Similarity.srpUpsertServe(s, TestSpark.sfDir)))
  }

  /** Video: deleting an earliest carrier promotes the next-earliest one
    * (the aggregate runs over masked rows, not over a masked aggregate).
    */
  private def videoPromotionRow(root: String, all: DataFrame): Unit = {
    val s = TestSpark.spark
    def carriers(frames: DataFrame) = Multimodal.frameIndexOf(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val before = carriers(DurableIndex.video.rows(all, root).head)
    val after = carriers(DurableIndex.video.serving(s, root).head)
    assert(after.exists { case (d, c) => before.get(d).exists(_ < c) },
      "no deleted carrier was promoted to the next-earliest")
  }

  private val families = Seq(
    Fam(DurableIndex.textProbe, docs,
      "probe-index lifecycle: refresh and compact interleave without drift",
      "text probe index deletes: masked serving equals rebuild-minus-deleted; " +
        "compaction folds physically; re-add guarded until the fold",
      view = ts => Seq(Dedup.textProbeView(ts).cappedBands)),
    Fam(DurableIndex.image, s => Multimodal.pngTable(s, TestSpark.sfDir).toDF(),
      "image index lifecycle: refresh equals from-scratch, compaction restores " +
        "one file per bucket, verdicts identical",
      "image index deletes: masked serving equals rebuild-minus-deleted; " +
        "fold at compaction; re-add guarded"),
    Fam(DurableIndex.video, s => Multimodal.gifTable(s, TestSpark.sfDir).toDF(),
      "video index lifecycle: refresh equals from-scratch, compaction restores " +
        "one file per bucket, verdicts identical",
      "video and audio index deletes: masked serving equals rebuild-minus-deleted; " +
        "fold at compaction; re-add guarded",
      view = ts => Seq(Multimodal.frameIndexOf(ts.head)),
      deletesExtra = videoPromotionRow),
    Fam(DurableIndex.audio, s => Multimodal.wavTable(s, TestSpark.sfDir).toDF(),
      "audio index lifecycle: refresh equals from-scratch, compaction restores " +
        "at most one file per bucket, verdicts identical",
      "video and audio index deletes: masked serving equals rebuild-minus-deleted; " +
        "fold at compaction; re-add guarded"),
    Fam(DurableIndex.ivf, vecs,
      "IVF index upsert: serve-after-append equals serve-after-rebuild; " +
        "retrained rebuild agrees on unaffected cells",
      "IVF index deletes: masked serving equals rebuild-minus-deleted; " +
        "compaction folds physically; re-add guarded until the fold",
      lifecycleExtra = ivfCodebookRows, deletesExtra = ivfIngestMasks),
    Fam(DurableIndex.pq, vecs,
      "PQ index upsert: encode-after-append equals frozen rebuild; ADC serving " +
        "over index ∪ delta identical; compaction invisible",
      "PQ and SRP delete logs: masked serving, physical fold at compaction, " +
        "re-add guarded until the fold",
      lifecycleExtra = pqCodebookRows),
    Fam(DurableIndex.srp, vecs,
      "SRP index upsert: append equals from-scratch for ALL queries; compaction " +
        "invisible; nothing but the delta hashed",
      "PQ and SRP delete logs: masked serving, physical fold at compaction, " +
        "re-add guarded until the fold",
      lifecycleExtra = srpRegisteredRow))

  private def register(label: Fam => String)(run: Fam => Unit): Unit =
    families.map(label).distinct.foreach { name =>
      test(name)(families.filter(label(_) == name).foreach(run))
    }
  register(_.lifecycleTest)(lifecycleRows)
  register(_.deletesTest)(deleteRows)


  // ---- crash injection for the generation-swap windows (round 20) --
  // The swap protocol's crash-safety was argued in doc comments and
  // asserted only on the happy path; these tests EXECUTE each window:
  // CorpusIndexes.crashHook throws at a named point between two
  // filesystem steps, and the assertions prove (a) every state except
  // the instant between the two renames leaves a complete readable
  // live generation, and (b) the NEXT maintenance call — not a human —
  // heals every state, including the between-renames one, via
  // recoverSwap's marker-certified roll-forward / roll-back.

  private def withCrashAt[A](point: String)(body: => A): Unit = {
    CorpusIndexes.crashHook =
      pt => if (pt == point) sys.error(s"injected crash at $pt")
    try {
      intercept[RuntimeException](body)
      ()
    } finally CorpusIndexes.crashHook = _ => ()
  }

  private val swapPoints =
    Seq("tmp-written", "marker-written", "live-aside", "swapped-in")

  test("crash injection: every compaction swap window recovers at the next maintenance call") {
    val s = TestSpark.spark
    import s.implicits._
    val lay = CorpusIndexes.Layout(4, "id", Seq("id"))
    swapPoints.foreach { point =>
      val dir = java.nio.file.Files.createTempDirectory("graft-crash-c").toString
      val path = s"$dir/tbl"
      val tbl = CorpusIndexes.tableName(dir, "crashc")
      CorpusIndexes.writeBucketedTable(
        (1L to 100L).toDF("id").withColumn("v", $"id" * 2), path, tbl, lay)
      CorpusIndexes.writeBucketedTable( // second generation: compaction has work
        (101L to 200L).toDF("id").withColumn("v", $"id" * 2), path, tbl, lay,
        append = true)
      val want = rows(s.read.parquet(path).orderBy($"id"))
      withCrashAt(point) {
        CorpusIndexes.compactBucketedTable(s, path, tbl, lay)
      }
      // readability of the crash state itself: all windows except the
      // one between the two renames leave a complete live generation
      if (point != "live-aside")
        assert(rows(s.read.parquet(path).orderBy($"id")) == want,
          s"$point: live generation must stay complete and readable")
      // recovery: the next maintenance call heals and then compacts
      CorpusIndexes.compactBucketedTable(s, path, tbl, lay)
      assert(rows(s.read.parquet(path).orderBy($"id")) == want,
        s"$point: rows must survive crash + recovery bit-for-bit")
      Seq("__old", "__compact", "__new").foreach { sfx =>
        assert(!new java.io.File(path + sfx).exists,
          s"$point: recovery must leave no $sfx residue")
      }
      val files = new java.io.File(path).listFiles()
        .count(_.getName.startsWith("part-"))
      assert(files == 4, s"$point: recovered table must be compacted, got $files files")
    }
  }

  test("crash injection: overwrite swap windows recover — including the empty-generation overwrite") {
    val s = TestSpark.spark
    import s.implicits._
    val lay = CorpusIndexes.Layout(4, "id", Seq("id"))
    swapPoints.foreach { point =>
      val dir = java.nio.file.Files.createTempDirectory("graft-crash-w").toString
      val path = s"$dir/tbl"
      val tbl = CorpusIndexes.tableName(dir, "crashw")
      CorpusIndexes.writeBucketedTable(
        (1L to 50L).toDF("id").withColumn("v", $"id"), path, tbl, lay)
      val old = rows(s.read.parquet(path).orderBy($"id"))
      val next = (200L to 260L).toDF("id").withColumn("v", $"id" + 7)
      withCrashAt(point) {
        CorpusIndexes.writeBucketedTable(next, path, tbl, lay)
      }
      if (point != "live-aside") {
        // before any rename the OLD generation is truth; after the
        // swap-in the NEW one is — either way a complete generation
        val live = rows(s.read.parquet(path).orderBy($"id"))
        val expected =
          if (point == "swapped-in") rows(next.orderBy($"id")) else old
        assert(live == expected, s"$point: live generation wrong after crash")
      }
      // recovery by re-issuing the write (any maintenance call heals)
      CorpusIndexes.writeBucketedTable(next, path, tbl, lay)
      s.catalog.refreshTable(tbl)
      assert(rows(CorpusIndexes.readBucketedTable(s, path, tbl, lay)
        .orderBy($"id")) == rows(next.orderBy($"id")),
        s"$point: overwrite must land intact after crash + retry")
      Seq("__old", "__new").foreach { sfx =>
        assert(!new java.io.File(path + sfx).exists,
          s"$point: recovery must leave no $sfx residue")
      }
    }
    // The round-19 advice window verbatim: an EMPTY dataframe's
    // overwrite dies right after the files land (zero part files) and
    // before the old-path marker write would have run. The live path
    // must still hold the previous complete generation, and the
    // re-issued empty overwrite must leave a marker-readable empty
    // generation.
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-e").toString
    val path = s"$dir/tbl"
    val tbl = CorpusIndexes.tableName(dir, "crashe")
    CorpusIndexes.writeBucketedTable(
      (1L to 30L).toDF("id").withColumn("v", $"id"), path, tbl, lay)
    val empty = (1L to 30L).toDF("id").withColumn("v", $"id").filter($"id" < 0)
    withCrashAt("tmp-written") {
      CorpusIndexes.writeBucketedTable(empty, path, tbl, lay)
    }
    assert(s.read.parquet(path).count() == 30L,
      "old generation must survive the crashed empty overwrite")
    CorpusIndexes.writeBucketedTable(empty, path, tbl, lay)
    s.catalog.refreshTable(tbl)
    val reread = CorpusIndexes.readBucketedTable(s, path, tbl, lay)
    assert(reread.count() == 0L && reread.schema.fieldNames.toSeq == Seq("id", "v"),
      "empty generation must be schema-readable from its marker")
  }

  test("crash injection: a TombLog fold interrupted mid-rewrite heals at the next compact; no tombstoned row resurfaces") {
    val s = TestSpark.spark
    import s.implicits._
    import graft.ops.Dedup
    val docs = Tables.documents(s, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val batch = docs.filter($"doc_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-fold").toString
    Dedup.persistTextProbeIndex(hist, dir)
    def serve() = rows(Dedup.multiSignalProbeIndexed(batch,
      Dedup.loadTextProbeIndex(s, dir)).orderBy($"doc_id"))
    val matched = Dedup.multiSignalProbeIndexed(batch, Dedup.loadTextProbeIndex(s, dir))
      .filter($"best_match".isNotNull).select($"best_match".as("doc_id"))
      .distinct().as[Long].collect().sorted
    assert(matched.nonEmpty, "fixture must emit matches")
    val dead = matched.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
      .toSeq.toDF("doc_id")
    DurableIndex.textProbe.delete(dead, dir)
    val masked = serve() // tombstones masked at read; the fold must preserve this
    // kill the fold between the two renames of the FIRST rewritten
    // table — the worst window: that table's live dir is missing, the
    // other tables are still unfolded, and the log still holds rows
    withCrashAt("live-aside") {
      DurableIndex.textProbe.compact(s, dir)
    }
    // the next maintenance call heals the half-swapped table, re-runs
    // the fold across all tables, and clears the log
    DurableIndex.textProbe.compact(s, dir)
    assert(DurableIndex.textProbe.tombstones(s, dir)
      .map(_.count()).getOrElse(0L) == 0L,
      "the re-run fold must clear every folded tombstone")
    assert(serve() == masked,
      "post-fold serving must equal the masked serving bit-for-bit")
    assert(serve() == rows(Dedup.multiSignalProbeIndexed(batch,
      Dedup.buildTextProbeIndex(
        hist.join(dead, Seq("doc_id"), "left_anti"))).orderBy($"doc_id")),
      "no tombstoned row may resurface after the interrupted fold")
  }

  test("crash injection: the delete log's OWN swap crash (fold's last table) heals before the next fold reads the log") {
    // The fold compacts the three probe tables first and the log
    // LAST; a crash between the LOG's two renames leaves the log's
    // live dir missing while every probe table is already folded. The
    // hazard is specific: foldInto decides whether tombstones exist by
    // READING the log before any per-table compact (whose entry heal
    // would fix it) runs — so foldInto must heal the log path itself.
    val s = TestSpark.spark
    import s.implicits._
    import graft.ops.Dedup
    val docs = Tables.documents(s, TestSpark.sfDir).select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 5 =!= 0).localCheckpoint()
    val batch = docs.filter($"doc_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-crash-log").toString
    Dedup.persistTextProbeIndex(hist, dir)
    def serve() = rows(Dedup.multiSignalProbeIndexed(batch,
      Dedup.loadTextProbeIndex(s, dir)).orderBy($"doc_id"))
    val matched = Dedup.multiSignalProbeIndexed(batch, Dedup.loadTextProbeIndex(s, dir))
      .filter($"best_match".isNotNull).select($"best_match".as("doc_id"))
      .distinct().as[Long].collect().sorted
    assert(matched.nonEmpty, "fixture must emit matches")
    val dead = matched.take(math.max(1, matched.length / 2)).toSeq.toDF("doc_id")
    DurableIndex.textProbe.delete(dead, dir)
    val masked = serve()
    // fourth live-aside = the log's own swap (3 probe tables fold first)
    var seen = 0
    CorpusIndexes.crashHook = pt =>
      if (pt == "live-aside") {
        seen += 1
        if (seen == 4) sys.error("injected crash at the log's own swap")
      }
    try {
      intercept[RuntimeException](DurableIndex.textProbe.compact(s, dir))
      ()
    } finally CorpusIndexes.crashHook = _ => ()
    assert(seen == 4, "the crash must have hit the log's swap, not a table's")
    // every probe table is folded; serving is already correct even
    // with the log's live dir missing (nothing left to mask)
    assert(serve() == masked,
      "crashed-log state must serve the folded tables unmasked-and-correct")
    // the next fold heals the log FIRST (roll-forward of its folded,
    // empty generation), then finds no tombstones and no-ops the fold
    DurableIndex.textProbe.compact(s, dir)
    assert(DurableIndex.textProbe.tombstones(s, dir)
      .map(_.count()).getOrElse(0L) == 0L,
      "the healed log must be the folded (cleared) generation")
    assert(serve() == masked, "serving must be unchanged through the heal")
    Seq("__old", "__compact").foreach { sfx =>
      assert(!new java.io.File(s"$dir/probe_tombstones$sfx").exists,
        s"heal must clear the log's $sfx residue")
    }
  }
}
