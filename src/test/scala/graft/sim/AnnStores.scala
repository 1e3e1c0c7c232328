package graft.sim

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The public lifecycle entry points of one persisted ANN store, bound to
  * the `embeddings` fixture's columns (`vec_id`, `embedding`, dim 64,
  * nlist 8) — so a spec can run the same scenario over the IVF-PQ and the
  * SQ×IVF store as two inputs instead of two copies.
  */
final case class AnnStores(
    name: String,
    idCol: String,
    write: (DataFrame, String, Option[Long]) => Unit,
    append: (DataFrame, String) => Unit,
    appendStream: (DataFrame, String, Long) => Boolean,
    delete: (DataFrame, String) => Unit,
    compact: (SparkSession, String) => Unit,
    fold: (SparkSession, String) => Boolean,
    refit: (DataFrame, String, Double, Option[Long]) => Boolean,
    codes: (SparkSession, String) => DataFrame,
    /** open the store and answer top-3 for `queries` */
    serve: (SparkSession, String, DataFrame) => DataFrame,
    /** stream driver with an unreachable staleness threshold:
      * (stream, path, checkpoint, failOnSkippedBatch) */
    stream: (DataFrame, String, String, Boolean) => StreamingQuery)

object AnnStores {
  private val (id, vec) = ("vec_id", "embedding")

  val IvfPq: AnnStores = AnnStores("IVF-PQ", "cid",
    write = (df, d, hw) => Similarity.writeIvfPqIndex(df, id, vec, d,
      dim = 64, nlist = 8, m = 8, codebookSize = 16, streamHighwater = hw),
    append = (df, d) => Similarity.appendToIvfPqIndex(df, id, vec, d),
    appendStream = (df, d, b) => Similarity.appendStreamBatch(df, id, vec, d, b),
    delete = (ids, d) => Similarity.deleteFromIvfPqIndex(ids, id, d),
    compact = Similarity.compactIvfPqIndex,
    fold = Similarity.compactIvfPqStreamExtension,
    refit = (df, d, t, hw) => Similarity.refitIvfPqIndex(df, id, vec, d,
      threshold = t, streamHighwater = hw),
    codes = (s, d) => Similarity.openIvfPqIndex(s, d).codes,
    serve = (s, d, q) => Similarity.ivfPqServe(Similarity.openIvfPqIndex(s, d),
      q, id, vec, k = 3, nprobe = 4),
    stream = (src, d, ckpt, failOnSkip) => Streams.annIndexStream(src, id,
      vec, d, ckpt, corpus = s => s.emptyDataFrame,
      driftThreshold = Double.MaxValue, failOnSkippedBatch = failOnSkip))

  val SqIvf: AnnStores = AnnStores("SQ×IVF", "id",
    write = (df, d, hw) => Similarity.writeSqIvfIndex(df, id, vec, d,
      dim = 64, nlist = 8, streamHighwater = hw),
    append = (df, d) => Similarity.appendToSqIvfIndex(df, id, vec, d),
    appendStream = (df, d, b) =>
      Similarity.appendSqIvfStreamBatch(df, id, vec, d, b),
    delete = (ids, d) => Similarity.deleteFromSqIvfIndex(ids, id, d),
    compact = Similarity.compactSqIvfIndex,
    fold = Similarity.compactSqIvfStreamExtension,
    refit = (df, d, t, hw) => Similarity.refitSqIvfIndex(df, id, vec, d,
      threshold = t, streamHighwater = hw),
    codes = (s, d) => Similarity.openSqIvfIndex(s, d).codes,
    serve = (s, d, q) => Similarity.sqIvfServeIndex(
      Similarity.openSqIvfIndex(s, d), q, id, vec, k = 3, nprobe = 4),
    stream = (src, d, ckpt, failOnSkip) => Streams.sqIvfIndexStream(src, id,
      vec, d, ckpt, corpus = s => s.emptyDataFrame,
      growthThreshold = Double.MaxValue, failOnSkippedBatch = failOnSkip))

  val both: Seq[AnnStores] = Seq(IvfPq, SqIvf)
}
