package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Model-based property test for the shared delete-log lifecycle
  * (DurableIndex over CorpusIndexes.TombLog), driven through the image family
  * (the cheapest family — hash rows, no corpus): random interleavings
  * of delete / refresh / compact against a driver-side model of the
  * contract, asserting after EVERY operation that the served id set
  * equals `present − unfolded-tombstones`. The fixed SidecarDiskSpec
  * scenarios pin the known lifecycle arcs (mask, guard, fold, re-add,
  * empty-log regeneration); this sweeps operation ORDERS nobody
  * thought to construct — double deletes, delete-of-absent,
  * fold-with-no-log, repeated folds, re-add-after-double-fold.
  *
  * Model: `present` = rows physically in the table (grows by
  * persist/refresh, shrinks at compact by the folded tombstones);
  * `tombs` = unfolded log; serving = present − tombs. refresh of a
  * tombstoned id must throw and change nothing.
  */
object TombLogPropertySpec extends Properties("tomb-log") {

  // each sample persists a fresh index and runs Spark jobs per op —
  // keep the sweep small but every sample an exact set oracle
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxDiscardRatio(10.0f)

  private sealed trait Op
  private case class Delete(ids: Set[Long]) extends Op
  private case class Refresh(ids: Set[Long]) extends Op
  private case object Compact extends Op

  // ids are drawn from a small universe so deletes hit present rows,
  // absent rows, and already-deleted rows with real probability
  private val universe: Seq[Long] = 0L until 14L

  private val genOps: Gen[List[Op]] = {
    val genOp: Gen[Op] = Gen.frequency(
      4 -> Gen.someOf(universe).map(ids => Delete(ids.toSet)),
      4 -> Gen.someOf(universe).map(ids => Refresh(ids.toSet)),
      2 -> Gen.const(Compact))
    for {
      n <- Gen.choose(3, 7)
      ops <- Gen.listOfN(n, genOp)
    } yield ops
  }

  property("served ids == present minus unfolded tombstones, under any op order") =
    Prop.forAllNoShrink(genOps) { ops =>
      val s = TestSpark.spark
      import s.implicits._
      import graft.ops.{DurableIndex, Multimodal}
      val idx = DurableIndex.image
      val dir = java.nio.file.Files.createTempDirectory("graft-tombprop").toString
      def media(ids: Set[Long]) =
        ids.toSeq.sorted.map(id => (id, Multimodal.PngCodec.encode(id)))
          .toDF("doc_id", "payload")
      val seed: Set[Long] = universe.filter(_ % 2 == 0).toSet
      idx.persist(media(seed), dir)
      var present = seed
      var tombs = Set.empty[Long]
      def served(): Set[Long] =
        idx.serving(s, dir).head.select($"doc_id").as[Long]
          .collect().toSet
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case Delete(ids) =>
            idx.delete(ids.toSeq.toDF("doc_id"), dir)
            tombs ++= ids
          case Refresh(ids) =>
            // the model refreshes only NEW ids (an id already present
            // would double its rows — outside the refresh contract);
            // a batch carrying ANY tombstoned id must be rejected
            // wholesale, leaving state unchanged
            val fresh = ids -- present
            if (fresh.nonEmpty) {
              if (fresh.intersect(tombs).nonEmpty) {
                val threw =
                  try { idx.refresh(media(fresh), dir); false }
                  catch { case _: IllegalArgumentException => true }
                if (!threw) failures += s"op $i: tombstoned re-add accepted"
              } else {
                idx.refresh(media(fresh), dir)
                present ++= fresh
              }
            }
          case Compact =>
            idx.compact(s, dir)
            present --= tombs
            tombs = Set.empty
        }
        val got = served()
        val want = present -- tombs
        if (got != want) failures += s"op $i ($op): served $got != model $want"
      }
      Prop(failures.isEmpty) :| failures.mkString("; ")
    }
}
