package churnbench

import graft.pipeline.ChurnPipeline
import graft.tables.ParquetTable
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** A fixed raw batch, the same in every run, in a warehouse of its own:
  * one clean order and one whose purchase timestamp does not parse. The
  * silver publish should keep the first and route the second to the
  * invalid rows. Under Spark's default ANSI mode it throws
  * CANNOT_PARSE_TIMESTAMP instead, so every attempt is a failed
  * operation; once it stops failing, [[check]] holds it to the right
  * answer.
  */
final class DirtyProbe(spark: SparkSession, root: String) {
  private val pipeline = new ChurnPipeline(spark, s"$root/probe/warehouse")
  private val day = LocalDate.of(2024, 7, 1)
  private val batch = Batch(day, Vector(
    RawOrder("o-probe-1", "c-probe", "delivered", "2024-07-01 10:00:00",
      "2024-07-08"),
    RawOrder("o-probe-2", "c-probe", "delivered", "2024-07-01T11:00:00Z",
      "2024-07-08")))
  private var succeeded = false

  Lake.writeRaw(spark, batch, s"$root/probe/raw")
  pipeline.ingestBronze(s"$root/probe/raw", "probe")

  /** One silver publish over the dirty batch; true if it committed. */
  def attempt(): Boolean =
    try {
      pipeline.publishSilver("probe")
      succeeded = true
      true
    } catch { case NonFatal(_) => false }

  def check(): Seq[String] =
    if (!succeeded) Nil
    else Checks.silver(Reckon.silver(Seq(batch.rows)).kept,
      DailyRefresh.readSilver(ParquetTable(spark, pipeline.silverRoot).read))
}
