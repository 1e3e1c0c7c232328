package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** `query_suite`: oracle-checked query packs over fixed tables, always in
  * the given order (a seeded order moved the suite time and the retained
  * heap from seed to seed).
  */
final class QuerySuite(spark: SparkSession, work: String, tables: String,
                       queries: Seq[String]) extends Workload {
  private var dir = tables
  private var out = ""

  /** Each repetition reads its own copy of the tables: the persisted
    * stores the packs build are memoized per (session, table dir), so a
    * fresh dir makes every repetition rebuild them. Each repetition also
    * runs every query once, cold, writing its result as parquet; the last
    * repetition's results are what the oracle check reads.
    */
  def setup(rep: Int): Unit = {
    dir = s"$work/tables-$rep"
    new File(dir).mkdirs()
    new File(tables).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(dir, f.getName)))
    out = s"$work/query-out-$rep"
    queries.foreach { q =>
      val s = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.parquet(s"$out/$q")
      System.err.println(f"[graftbench]   $q: ${(System.nanoTime() - s) / 1e9}%.2f s")
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json(oracles).getBytes("UTF-8"))
  }

  override def setupFacts(): Map[String, Any] =
    Map("outputs" -> Map("out_dir" -> out, "tables_dir" -> dir))

  /** Plans once, then runs that plan as one SQL execution: every output
    * column is computed and nothing is kept.
    */
  private def execute(q: String): Unit = {
    val df = Trace.span("queries", "build", req = q)(SparkEntry.queries(q)(spark, dir))
    val qe = df.queryExecution
    Trace.span("plans", "plan", req = q)(qe.executedPlan)
    Trace.span("plans", "exec", req = q)(
      SQLExecution.withNewExecutionId(qe, Some(q))(qe.toRdd.foreach(_ => ())))
  }

  /** Whole passes over the queries until `seconds`
    * have passed, so every query runs equally often; each execution is timed.
    */
  def timed(seconds: Double, traced: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val times = queries.map(_ -> Seq.newBuilder[Double]).toMap
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      queries.foreach { q =>
        val s = System.nanoTime()
        Trace.span("queries", q, req = q)(execute(q))
        times(q) += (System.nanoTime() - s) / 1e9
      }
      passes += 1
    }
    Map("passes" -> passes, "query_s" -> times.map { case (q, b) => q -> b.result() })
  }
}
