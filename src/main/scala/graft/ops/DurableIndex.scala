package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import CorpusIndexes.{Layout, layouts, readBucketedTable, tableName, writeBucketedTable}

/** One durable index family — its bucketed data tables under a root,
  * the root's delete log, and the function that turns arrivals into
  * table rows — with the lifecycle written ONCE over all of it:
  *
  *  - [[persist]] builds a root from scratch (frozen model tables
  *    first, then every data table);
  *  - [[refresh]] appends arrivals' rows as new bucket files, never
  *    rewriting history; a tombstoned id is refused until the fold
  *    (the serving mask would strand the re-added rows forever);
  *  - [[delete]] appends ids to the log; [[serving]] masks every data
  *    table against ONE log snapshot, so a delete landing mid-read can
  *    never serve a state no rebuild could produce;
  *  - [[compact]] rewrites every table to one file per bucket and
  *    FOLDS the log in: tombstoned rows become physically absent and
  *    the log keeps only rows appended after the fold's snapshot
  *    ([[CorpusIndexes.TombLog]]).
  *
  * Every stored row depends only on its own arrival (given the frozen
  * model), which is what makes refresh equal a rebuild structurally.
  * Views that really differ per family — the text df-cap, video's
  * earliest-carrier aggregate, the IVF/PQ codebooks — are functions of
  * the tables [[serving]] returns, kept next to their family's probes.
  *
  * Index mutations (refresh/delete/compact) are serialized by the
  * index owner's maintenance window: compaction deletes the old
  * generation right after its swap, so only already-open read handles
  * survive it; rotate roots where reader-concurrent compaction is
  * needed.
  *
  * @param tables data tables (key → layout), masked and folded
  * @param logKey the delete log's table key (its layout is registered
  *               in [[CorpusIndexes.layouts]])
  * @param keyCol the id column of the data tables and the log
  * @param idCol  the id column arrivals and delete requests carry
  * @param model  frozen model tables written by [[persist]] only
  * @param train  arrivals → model rows, one frame per `model` table
  * @param rows   (arrivals, root) → data rows, one frame per table; may
  *               read the root's frozen model
  */
final class DurableIndex private (
    val name: String,
    private[graft] val tables: Seq[(String, Layout)],
    logKey: String,
    private[graft] val keyCol: String,
    private[graft] val idCol: String,
    model: Seq[(String, Layout)],
    train: DataFrame => Seq[DataFrame],
    private[graft] val rows: (DataFrame, String) => Seq[DataFrame]) {

  private def log(root: String) = CorpusIndexes.TombLog(root, logKey, keyCol)

  private def parts(root: String, specs: Seq[(String, Layout)]) =
    specs.map { case (key, lay) => (s"$root/$key", tableName(root, key), lay) }

  private def write(root: String, specs: Seq[(String, Layout)],
                    frames: Seq[DataFrame], append: Boolean): Unit =
    parts(root, specs).zip(frames).foreach { case ((p, t, l), df) =>
      writeBucketedTable(df, p, t, l, append = append)
    }

  private def keys(frame: DataFrame) = frame.select(col(idCol).as(keyCol))

  /** Build the index under `root` from `arrivals`. */
  def persist(arrivals: DataFrame, root: String): Unit = {
    write(root, model, train(arrivals), append = false)
    write(root, tables, rows(arrivals, root), append = false)
  }

  /** Append `arrivals`' rows; refuses any tombstoned id until the fold. */
  def refresh(arrivals: DataFrame, root: String): Unit = {
    log(root).guardArrivals(keys(arrivals), s"refresh $name index")
    write(root, tables, rows(arrivals, root), append = true)
  }

  /** Append `ids` (a frame bearing the arrival id column) to the log. */
  def delete(ids: DataFrame, root: String): Unit = log(root).append(keys(ids))

  /** The unfolded delete log (keyed by the table id column), if any. */
  def tombstones(s: SparkSession, root: String): Option[DataFrame] =
    log(root).load(s)

  /** One file per bucket again, with the delete log folded in. */
  def compact(s: SparkSession, root: String): Unit =
    log(root).foldInto(s, parts(root, tables))

  /** The data tables as stored, unmasked, in `tables` order. */
  def raw(s: SparkSession, root: String): Seq[DataFrame] =
    parts(root, tables).map { case (p, t, l) => readBucketedTable(s, p, t, l) }

  /** `frames` minus ONE snapshot of the root's delete log — for serving
    * views that union streamed deltas into [[raw]] before masking.
    */
  def mask(s: SparkSession, root: String, frames: Seq[DataFrame]): Seq[DataFrame] = {
    val ts = log(root).load(s)
    frames.map(f => ts.fold(f)(CorpusIndexes.minusIds(f, _, keyCol)))
  }

  /** The data tables as consumers serve them: [[raw]] minus the log. */
  def serving(s: SparkSession, root: String): Seq[DataFrame] =
    mask(s, root, raw(s, root))
}

/** The seven durable index families. On-disk keys, layouts and log
  * columns are fixed: roots written by earlier builds keep loading.
  */
object DurableIndex {

  private def family(name: String, tables: Seq[(String, Layout)],
                     logKey: String, keyCol: String, idCol: String,
                     model: Seq[(String, Layout)] = Nil,
                     train: DataFrame => Seq[DataFrame] = _ => Nil)
                    (rows: (DataFrame, String) => Seq[DataFrame]) =
    new DurableIndex(name, tables, logKey, keyCol, idCol, model, train, rows)

  private def registered(key: String) = key -> layouts(key)

  /** md5 store, RAW (uncapped) MinHash bands and SimHash bands, each
    * bucketed on its probe join key; the df cap re-derives at read
    * ([[Dedup.loadTextProbeIndex]]). Arrivals are (doc_id, text).
    */
  val textProbe: DurableIndex = family("text probe",
    Seq("probe_md5s" -> Layout(8, "h", Seq("h")),
      "probe_raw_bands" -> Layout(8, "bkey", Seq("bkey")),
      "probe_sim_bands" -> Layout(8, "bval", Seq("bval"))),
    "probe_tombstones", keyCol = "hist_doc", idCol = "doc_id") {
    (docs, _) => Dedup.rawProbeParts(docs)
  }

  /** Image aHash rows; arrivals are [[Multimodal.PngRow]] frames. */
  val image: DurableIndex = family("image", Seq(registered("png_ahash")),
    "png_tombstones", keyCol = "doc_id", idCol = "doc_id") { (media, _) =>
    import media.sparkSession.implicits._
    Seq(Multimodal.ahashRows(media.as[Multimodal.PngRow]).toDF())
  }

  /** Per-frame GIF aHash rows; arrivals are [[Multimodal.GifRow]] frames. */
  val video: DurableIndex = family("video", Seq(registered("gif_frames")),
    "gif_tombstones", keyCol = "doc_id", idCol = "doc_id") { (media, _) =>
    import media.sparkSession.implicits._
    Seq(Multimodal.gifFrameAHashes(media.as[Multimodal.GifRow]).toDF())
  }

  /** WAV frame-energy fingerprints; arrivals are [[Multimodal.WavRow]] frames. */
  val audio: DurableIndex = family("audio", Seq(registered("wav_fp")),
    "wav_tombstones", keyCol = "doc_id", idCol = "doc_id") { (media, _) =>
    import media.sparkSession.implicits._
    Seq(Multimodal.audioFingerprintRows(media.as[Multimodal.WavRow]).toDF())
  }

  /** IVF cell assignments over the FROZEN coarse codebook persisted next
    * to them; arrivals are (vec_id, embedding).
    */
  val ivf: DurableIndex = family("IVF", Seq(registered("ivf_assigned")),
    "ivf_tombstones", keyCol = "vec_id", idCol = "vec_id",
    model = Seq(registered("ivf_codebook")),
    train = v => Seq(Similarity.codebookOf(Similarity.withNorm(v)))) {
    (v, root) => Seq(Similarity.ivfRows(v, root))
  }

  /** 4-byte PQ codes over the FROZEN subspace codebook persisted next to
    * them; arrivals are (vec_id, embedding).
    */
  val pq: DurableIndex = family("PQ", Seq(registered("pq_codes")),
    "pq_tombstones", keyCol = "vec_id", idCol = "vec_id",
    model = Seq(registered("pq_codebook")),
    train = v => Seq(Similarity.pqSubOf(v).filter(col("vec_id") < 16)
      .toDF("k", "m", "cv"))) {
    (v, root) =>
      Seq(Similarity.pqEncodeWith(v, Similarity.pqCodebook(v.sparkSession, root)))
  }

  /** SRP signatures — the md5 seed is the model, so no model table;
    * arrivals are (vec_id, embedding).
    */
  val srp: DurableIndex = family("SRP", Seq(registered("srp_sigs")),
    "srp_tombstones", keyCol = "vec_id", idCol = "vec_id") {
    (v, _) => Seq(Similarity.srpSignatures(v))
  }
}
