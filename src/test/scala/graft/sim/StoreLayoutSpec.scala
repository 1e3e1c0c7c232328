package graft.sim

import graft.SparkSpec
import graft.util.AtomicStore
import org.apache.spark.sql.functions._

/** Byte-compatibility contract of the persisted ANN stores: each store is
  * driven through fit → append → two stream batches → delete → compact →
  * fold (carrying a sentinel-less batch) → replay → fold → refit → dropped
  * stream batch, and after every step the store's
  * relative file tree and each table's schema must match the pinned
  * layout. Part-file names, `.crc` sidecars and cell partition values are
  * data, not layout, and are abstracted away; the generation protocol's
  * own root markers (`_commit_N`, `_claim_N`, older `gen-N/`) are pinned
  * by AtomicStoreSpec and left out (their pruning is age-gated).
  */
class StoreLayoutSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private def rows(lo: Long, hi: Long) =
    emb.where(col("vec_id") >= lo && col("vec_id") < hi)

  /** The current generation's tree (prefixed by its name) plus every
    * non-protocol entry at the store root, then one schema line per table
    * of the current generation. Directories end in `/`; a one-line file's
    * content follows `=`.
    */
  private def snapshot(d: String): Seq[String] = {
    val root = new java.io.File(d)
    val gen = new java.io.File(AtomicStore.resolve(spark, d))
    def walk(f: java.io.File, rel: String): Seq[String] =
      f.listFiles().toSeq.flatMap { c =>
        val n = c.getName.replaceAll("^cell=[0-9]+$", "cell=*")
        val r = s"$rel/$n"
        if (c.isDirectory) s"$r/" +: walk(c, r)
        else if (n.startsWith("part-") || n.endsWith(".crc")) Nil
        else if (n == "_stream_highwater" || n == "overflow")
          Seq(s"$r=${new String(java.nio.file.Files.readAllBytes(c.toPath))}")
        else Seq(r)
      }
    val protocol = "^(gen-[0-9]+|_commit_[0-9]+|_claim_[0-9]+)$"
    val rootEntries = root.listFiles().toSeq
      .filterNot(c => c.getName.matches(protocol) || c.getName.endsWith(".crc"))
      .flatMap(c => if (c.isDirectory) s"${c.getName}/" +: walk(c, c.getName)
                    else Seq(c.getName))
    val tables = gen.listFiles().toSeq
      .filter(c => c.isDirectory && !c.getName.startsWith("_"))
      .map(c => s"schema ${c.getName}: " +
        spark.read.parquet(c.toString).schema.simpleString)
    (walk(gen, gen.getName).distinct ++ rootEntries ++ tables).sorted
  }

  /** Drive the lifecycle, snapshotting after each step. "b1 sentinel
    * lost" stages a stream batch killed inside its parquet job (data
    * files landed, `_complete_b1` never written), so the next fold must
    * carry it under `_sentinels_enabled` and the replay must re-sentinel it.
    */
  private def drive(s: AnnStores, d: String): Seq[(String, Seq[String])] = {
    val steps = Seq[(String, () => Unit)](
      "fit" -> (() => s.write(rows(0, 40), d, None)),
      "append" -> (() => s.append(rows(40, 50), d)),
      "stream b0" -> (() => assert(!s.appendStream(rows(50, 60), d, 0L))),
      "stream b1" -> (() => assert(!s.appendStream(rows(60, 70), d, 1L))),
      "delete" -> (() =>
        s.delete(emb.where(col("vec_id").isin(7L, 65L)).select("vec_id"), d)),
      "compact" -> (() => s.compact(spark, d)),
      "b1 sentinel lost" -> (() => assert(new java.io.File(
        s"${AtomicStore.resolve(spark, d)}/codes_stream/_complete_b1").delete())),
      "fold carries b1" -> (() => assert(s.fold(spark, d))),
      "replay b1" -> (() => assert(!s.appendStream(rows(60, 70), d, 1L))),
      "fold" -> (() => assert(s.fold(spark, d))),
      "refit" -> (() => assert(s.refit(rows(0, 70), d, 0.0, Some(5L)))),
      "dropped b0" -> (() => assert(s.appendStream(rows(70, 80), d, 0L))))
    steps.map { case (label, step) => step(); label -> snapshot(d) }
  }

  /** One store's pinned tables: the model tables a fold copies and the
    * schema of every table kind.
    */
  private case class Pinned(store: AnnStores, model: Seq[String],
                            schemas: Map[String, String])

  private val pinned = Seq(
    Pinned(AnnStores.IvfPq, Seq("cellstats", "centroids", "codebooks", "meta"),
      Map(
        "cellstats" -> "struct<cell:int,n_fit:bigint>",
        "centroids" -> "struct<cell:int,vec:array<double>>",
        "codebooks" -> "struct<j:int,c:int,vec:array<double>>",
        "codes" -> "struct<cid:bigint,codes:array<int>,cell:int>",
        "codes_stream" ->
          "struct<cid:bigint,codes:array<int>,batch_id:int,cell:int>",
        "meta" -> ("struct<dim:int,m:int,codebook_size:int,nlist:int," +
          "residual:boolean,seed:bigint>"),
        "tombstones" -> "struct<cid:bigint>")),
    Pinned(AnnStores.SqIvf, Seq("centroids", "meta"),
      Map(
        "centroids" -> "struct<cell:int,vec:array<double>>",
        "codes" -> "struct<id:bigint,c8:array<tinyint>,cell:int>",
        "codes_stream" ->
          "struct<id:bigint,c8:array<tinyint>,batch_id:int,cell:int>",
        "meta" -> "struct<dim:int,nlist:int,seed:bigint,iters:int>",
        "tombstones" -> "struct<id:bigint>")))

  /** Expected snapshot: generation `g` holding the model tables and
    * `codes`, plus `extra` entries inside the generation and `root`
    * entries at the store root.
    */
  private def layout(p: Pinned, g: Int, extra: Seq[String],
                     root: Seq[String] = Nil): Seq[String] = {
    val tree = (p.model :+ "codes").flatMap(t => Seq(s"$t/", s"$t/_SUCCESS")) ++
      Seq("codes/cell=*/") ++ extra
    val tables = (p.model :+ "codes") ++
      Seq("codes_stream", "tombstones").filter(t => extra.contains(s"$t/"))
    (tree.map(e => s"gen-$g/$e") ++ root ++
      tables.map(t => s"schema $t: ${p.schemas(t)}")).sorted
  }

  /** A `codes_stream` extension holding `batches`, with completion
    * sentinels for `complete`.
    */
  private def ext(batches: Seq[Int], complete: Seq[Int],
                  carried: Boolean = false): Seq[String] =
    Seq("codes_stream/") ++ batches.flatMap(b =>
      Seq(s"codes_stream/batch_id=$b/", s"codes_stream/batch_id=$b/cell=*/")) ++
      complete.map(b => s"codes_stream/_complete_b$b") ++
      (if (carried) Seq("codes_stream/_SUCCESS", "codes_stream/_sentinels_enabled")
       else Nil)

  private val tomb = Seq("tombstones/", "tombstones/_SUCCESS")

  for (p <- pinned)
    test(s"${p.store.name} store layout is pinned at every lifecycle step") {
      val expected = Seq(
        "fit" -> layout(p, 1, Nil),
        "append" -> layout(p, 1, Nil),
        "stream b0" -> layout(p, 1, ext(Seq(0), Seq(0))),
        "stream b1" -> layout(p, 1, ext(Seq(0, 1), Seq(0, 1))),
        "delete" -> layout(p, 1, ext(Seq(0, 1), Seq(0, 1)) ++ tomb),
        "compact" -> layout(p, 1, ext(Seq(0, 1), Seq(0, 1))),
        "b1 sentinel lost" -> layout(p, 1, ext(Seq(0, 1), Seq(0))),
        "fold carries b1" -> layout(p, 2,
          ext(Seq(1), Nil, carried = true) :+ "_stream_highwater=0"),
        "replay b1" -> layout(p, 2,
          ext(Seq(1), Seq(1), carried = true) :+ "_stream_highwater=0"),
        "fold" -> layout(p, 3, Seq("_stream_highwater=1")),
        "refit" -> layout(p, 4, Seq("_stream_highwater=5")),
        "dropped b0" -> layout(p, 4, Seq("_stream_highwater=5"),
          root = Seq("_skipped_batches/", "_skipped_batches/b0_hw5")))
      val actual = drive(p.store, tmpDir() + "/layout")
      assert(actual.map(_._1) == expected.map(_._1))
      actual.zip(expected).foreach { case ((step, got), (_, want)) =>
        assert(got == want, s"after '$step': unexpected " +
          s"${got.diff(want).mkString(", ")}; missing ${want.diff(got).mkString(", ")}")
      }
    }
}
