package churnbench

import graft.{QueryDef, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The query set: registry queries over the fixed sf0.001 tables, run
  * once cold (empty index store) and then in a fixed number of warm
  * passes. Every timed execution builds the query and collects every
  * column of every row. The cold pass's rows are written out for run.py
  * to compare with each query's DuckDB oracle, and every warm pass must
  * return the same rows as the cold one. Traced serve runs measure it
  * after their timed part (see README.md for why it is not a workload of
  * its own).
  */
object Analytics {

  /** The cheapest DuckDB-oracle-checked query (cold plus warm time at
    * sf0.001) of 12 of the registry's 54 sub-registries, chosen to reach
    * the native functions, the operators and the ANN index store; see
    * README.md.
    */
  val QuerySet: Seq[String] = Seq(
    "q19_date_arith", "q25_churn_labels", "q34_dedup_exact", "q52_asof_join",
    "q58_histogram", "q86_pq_quantize", "q95_zorder_key",
    "q105_snapshot_diff", "q110_char_entropy", "q143_exact_corr",
    "q145_ohlc_resample", "q166_jw_name_match")

  private final case class Result(schema: StructType, rows: Array[Row],
      seconds: Double)

  val WarmPasses = 3

  /** Runs the set; returns the check failures and per-layer metrics. */
  def run(ctx: Ctx, dataDir: String): (Seq[String], Map[String, (Double, String)]) = {
    val spark = ctx.spark
    val registry: Map[String, QueryDef] = SparkEntry.registry.toMap
    val queries = QuerySet.map(n => n -> registry(n))
    val errors = Seq.newBuilder[String]

    def execute(name: String, pass: String): Option[Result] =
      try ctx.tracer.span(s"queries.$name", s"$pass-$name") {
        val t0 = System.nanoTime()
        val df = registry(name).fn(spark, dataDir)
        val rows = df.collect()
        Some(Result(df.schema, rows, (System.nanoTime() - t0) / 1e9))
      } catch {
        case NonFatal(e) =>
          errors += s"$name failed: $e"
          None
      }

    val cold = queries.map { case (n, _) => n -> execute(n, "cold") }.toMap
    ctx.log("query set: cold pass done")
    val warm = (0 until WarmPasses).map { k =>
      val pass = queries.map { case (n, _) => n -> execute(n, s"warm$k") }.toMap
      ctx.log(s"query set: warm pass $k done")
      pass
    }

    // the cold rows go to run.py's oracle comparison; warm rows must match
    val out = Paths.get(ctx.root, "out")
    Files.createDirectories(out)
    cold.foreach { case (n, r) =>
      r.foreach(r => spark.createDataFrame(r.rows.toSeq.asJava, r.schema)
        .coalesce(1).write.parquet(out.resolve(n).toString))
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter { case (n, _) => cold.get(n).exists(_.isDefined) }
        .map { case (n, sql) =>
          n -> sql.replace(QueryDef.OutDirToken, out.toAbsolutePath.toString) }))
    def canonical(r: Result) = r.rows.map(_.toString).sorted.toSeq
    val failures = for {
      (pass, i) <- warm.zipWithIndex
      (n, Some(w)) <- pass
      c <- cold(n) if canonical(c) != canonical(w)
    } yield s"$n: warm pass $i returned other rows than the cold pass"

    val spans = ctx.tracer.finished()
    val perQuery = QuerySet.map { n =>
      n -> Stats.median(warm.flatMap(_(n)).map(_.seconds)) }
    val warmJobs = spans.filter(_.trace.startsWith("warm"))
      .groupBy(_.trace.takeWhile(_ != '-')).values
      .map(_.map(_.jobs).sum.toDouble).toSeq
    (errors.result() ++ failures,
      perQuery.map { case (n, s) => s"queries.${n}_s" -> (s, "s") }.toMap ++
        Map(
          "queries.cold_s" -> (cold.values.flatten.map(_.seconds).sum, "s"),
          "queries.warm_s" -> (perQuery.map(_._2).sum, "s"),
          "queries.jobs" -> (Stats.median(warmJobs), "count")))
  }
}
