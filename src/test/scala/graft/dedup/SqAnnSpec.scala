package graft.dedup

import graft.SparkSpec
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class SqAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.model.Tables.embeddings(spark, sfDir)

  test("sq codes are bounded int8 and unit-scale (max |code| = 127 on some dim)") {
    val codes = emb.select(Similarity.sqEncode(col("embedding")).as("c8"))
    val stats = codes
      .select(array_max(col("c8")).as("hi"), array_min(col("c8")).as("lo"))
      .agg(max(col("hi")).as("hi"), min(col("lo")).as("lo")).head()
    assert(stats.getByte(0) <= 127 && stats.getByte(1) >= -127)
  }

  test("sq top-5 recall vs exact cosine >= 0.9 on real embeddings") {
    val queries = emb.where(col("vec_id") % 31 === 0)
    val approx = Similarity.sqTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("id")).as[(Long, Long)].collect().toSet
    val k = 5
    val exactPairs = Similarity.knnJoin(emb, "vec_id", "embedding", k)
      .where(col("id1") % 31 === 0)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val recall = (approx intersect exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"sq recall@5 $recall")
  }

  test("ranking deterministic across partitionings (integer scores, id ties)") {
    val q = emb.where(col("vec_id") % 31 === 0)
    val a = Similarity.sqTopK(emb.repartition(1), q, "vec_id", "embedding", 5)
      .select("query_id", "id", "rank").collect().toSet
    val b = Similarity.sqTopK(emb.repartition(13), q.repartition(3),
      "vec_id", "embedding", 5)
      .select("query_id", "id", "rank").collect().toSet
    assert(a == b)
  }

  test("sq×ivf with nprobe = nlist equals brute-force sqTopK exactly") {
    // probing every cell removes the pruning, so the composition must
    // reproduce the brute-force ranking bit-for-bit (same codes, same
    // integer dots, same tie order) — the equality that pins the cell
    // plumbing as lossless
    val small = emb.where(col("vec_id") < 80)
    val q = small.where(col("vec_id") % 13 === 0)
    val brute = Similarity.sqTopK(small, q, "vec_id", "embedding", 5)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val composed = Similarity.sqIvfTopK(small, q, "vec_id", "embedding", 5,
      dim = 64, nlist = 4, nprobe = 4)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(composed == brute)
  }

  test("persisted sq×ivf store: serve-from-store is bit-identical to the " +
    "direct composition, a fresh session opens it, append grows it") {
    val path = tmpDir() + "/sqivf"
    val small = emb.where(col("vec_id") < 80)
    val q = small.where(col("vec_id") % 13 === 0)
    Similarity.writeSqIvfIndex(small, "vec_id", "embedding", path,
      dim = 64, nlist = 4)
    // a FRESH session sees only the store — no build-session state
    val fresh = spark.newSession()
    val idx = Similarity.openSqIvfIndex(fresh, path)
    assert(idx.cents.length == 4 && idx.dim == 64)
    val qf = graft.model.Tables.embeddings(fresh, sfDir)
      .where(col("vec_id") < 80 && col("vec_id") % 13 === 0)
    val served = Similarity.sqIvfServeIndex(idx, qf, "vec_id", "embedding",
        k = 5, nprobe = 2)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)](fresh.implicits.newProductEncoder)
      .collect().toSet
    val direct = Similarity.sqIvfTopK(small, q, "vec_id", "embedding", 5,
        dim = 64, nlist = 4, nprobe = 2)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(served == direct, "store serve must equal direct composition")
    // grow: append 81..99 encoded with the STORED centroids — serving the
    // grown store equals serving codes re-encoded in memory with the same
    // model (append changes WHERE codes live, never what they are)
    val extra = emb.where(col("vec_id") >= 80 && col("vec_id") < 100)
    Similarity.appendToSqIvfIndex(extra, "vec_id", "embedding", path)
    val grownIdx = Similarity.openSqIvfIndex(fresh, path)
    val grown = Similarity.sqIvfServeIndex(grownIdx, qf, "vec_id", "embedding",
        k = 5, nprobe = 2)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)](fresh.implicits.newProductEncoder)
      .collect().toSet
    val rebuiltCodes = Similarity.sqIvfEncode(
      emb.where(col("vec_id") < 100), "vec_id", "embedding", idx.cents)
    val rebuilt = Similarity.sqIvfServe(rebuiltCodes, q, "vec_id", "embedding",
        k = 5, centroids = idx.cents, nprobe = 2)
      .select("query_id", "id", "dot", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(grown == rebuilt, "grown store must equal in-memory re-encode")
    // a refit with different params through write() invalidates the
    // per-JVM model cache (cache-coherence twin of DedupIndexSpec's)
    Similarity.writeSqIvfIndex(small, "vec_id", "embedding", path,
      dim = 64, nlist = 8)
    assert(Similarity.openSqIvfIndex(fresh, path).cents.length == 8)
  }

  test("sq×ivf prunes: candidates only from probed cells, scores still exact") {
    val small = emb.where(col("vec_id") < 200)
    val q = small.where(col("vec_id") % 29 === 0)
    val pruned = Similarity.sqIvfTopK(small, q, "vec_id", "embedding", 5,
      dim = 64, nlist = 8, nprobe = 2)
      .select("query_id", "id", "dot").as[(Long, Long, Long)].collect()
    assert(pruned.nonEmpty)
    // every emitted dot must equal the brute-force integer dot for that
    // pair — pruning changes WHICH pairs are scored, never their scores
    val brute = Similarity.sqTopK(small, q, "vec_id", "embedding", 200)
      .select("query_id", "id", "dot").as[(Long, Long, Long)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    pruned.foreach { case (a, b, d) =>
      assert(brute.get((a, b)).contains(d), s"score drift on ($a,$b)")
    }
    // pruning is real (fewer scored pairs than brute force would rank)
    // and bounded: at most k rows leave per query
    val perQuery = pruned.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ <= 5))
    // recall on RANDOM 64-d vectors is limited by construction — raw-
    // vector k-means cells barely correlate with cosine neighborhoods on
    // isotropic noise, so this is a sanity floor, not a quality claim
    // (q_sq_ivf_ann's oracle pins exactness; clustered corpora are where
    // nprobe/nlist buys recall — SemDeDup's cells, SCALE.md "SemDeDup /
    // served-index steady-state cost")
    val top5 = brute.toSeq.groupBy(_._1._1).flatMap { case (_, xs) =>
      xs.sortBy { case ((_, id), d) => (-d, id) }.take(5).map(_._1)
    }.toSet
    val got = pruned.map { case (a, b, _) => (a, b) }.toSet
    val recall = (got intersect top5).size.toDouble / top5.size
    assert(recall > 0.0, s"sq×ivf recall@5 $recall")
  }
}
