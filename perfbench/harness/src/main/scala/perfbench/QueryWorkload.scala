package perfbench

import org.apache.spark.sql.DataFrame
import graft.SparkEntry
import graft.core.Tables
import perfbench.Main.Op

/** `batch_operators`: a fixed list of catalog queries
  * (`SparkEntry.queries`) over static parquet tables, issued one after
  * another by a single client. Each query's result is written as parquet
  * (every output column computed; the written file is what the checks
  * read), and every round runs in a fresh SparkContext, so each query
  * runs once per session and pays its shared-leaf builds as a batch job
  * does.
  */
final class QueryWorkload(ctx: Ctx, names: Seq[String], tables: Seq[String])
    extends Main.Workload {
  private val results = ctx.args.out.resolve("results")

  def prep(): Unit =
    tables.foreach { t =>
      ctx.tracer.span("core.tables_resolve")(Tables(ctx.spark, ctx.args.data, t).schema)
    }

  def round(r: Int): Seq[Op] =
    names.zipWithIndex.map { case (n, i) => run(r, i, n) }

  override def openRound(r: Int): Unit = if (r > 0) ctx.renew()

  /** The oracle SQL texts the checks run in DuckDB. */
  override def extra: Map[String, Any] =
    Map("oracle" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap)

  private def run(r: Int, i: Int, name: String): Op = {
    val spark = ctx.spark
    val op = s"r$r/$name"
    ctx.tracer.beginOp(spark, op)
    val t0 = System.nanoTime()
    val outcome = ctx.tracer.span("op") {
      try {
        val df = ctx.tracer.span("queries.build")(SparkEntry.queries(name)(spark, ctx.args.data))
        Right(ctx.tracer.span("queries.exec")(finish(r, name, df)))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val latency = Main.millisSince(t0)
    // per-query persists must not leak into the next query (as graft.Bench does)
    spark.sharedState.cacheManager.clearCache()
    ctx.tracer.endOp(spark, op)
    outcome match {
      case Right(res) => Op(r, i, name, latency, "", res)
      case Left(err) => Op(r, i, name, latency, err, "")
    }
  }

  /** The timed action. Returns the name of the written result. */
  private def finish(r: Int, name: String, df: DataFrame): String = {
    val rel = s"$name-r$r"
    df.write.mode("overwrite").parquet(results.resolve(rel).toString)
    rel
  }
}

object QueryWorkload {
  /** Heavy operator queries (sf0.1): task execution, shuffle and
    * shared-leaf builds dominate. */
  val Batch: Seq[String] = Seq("q_pagerank", "q_shingle_cosine", "q_spearman", "q_dsir")
  val BatchTables: Seq[String] = Seq("lineitem", "orders", "documents")
}
