package graft

import graft.contracts.Contracts
import graft.pipeline.{Gold, Silver}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests (reference tests/contract): the stages' actual
  * output schemas satisfy the declared contracts, and contract hashes are
  * stable but change when the contract changes.
  */
class ContractsSpec extends AnyFunSuite with SparkSpec {

  test("silver stage output satisfies the silver contract") {
    import spark.implicits._
    val bronze = Seq(
      ("O1", "C1", "2025-01-01 10:00:00", "delivered",
        "r1", "2025-01-01 12:00:00", "a.parquet", "fp", "sh"))
      .toDF("order_id", "customer_id", "order_purchase_timestamp",
        "order_status", "run_id", "ingest_ts", "source_file",
        "source_fingerprint", "schema_hash")
      .withColumn("ingest_ts", to_timestamp(col("ingest_ts")))
    val out = Silver.stamp(
      Silver.split(Silver.classify(bronze)).deduped, "sv", "run")
    assert(Contracts.silverOrders.validate(out) == Nil)
  }

  test("gold stage output satisfies the gold contract") {
    import spark.implicits._
    val silver = Seq(("o1", "c1", "2025-01-10 10:00:00"))
      .toDF("order_id", "customer_id", "order_purchase_ts")
      .withColumn("order_purchase_ts", to_timestamp(col("order_purchase_ts")))
    val gold = Gold.buildFeatureSnapshot(silver, "2025-03-31", "s", "f", "r")
    assert(Contracts.goldCustomerFeaturesDaily.validate(gold) == Nil)
  }

  test("contract violations are reported precisely") {
    import spark.implicits._
    val df = Seq(("x", 1)).toDF("order_id", "customer_id") // wrong type
    val v = Contracts.silverOrders.validate(df)
    assert(v.exists(_.contains("customer_id")))
    assert(v.exists(_.startsWith("missing column")))
    intercept[IllegalArgumentException] {
      Contracts.silverOrders.enforce(df)
    }
  }

  test("contract JSON artifacts are in lockstep with the code contracts") {
    import graft.contracts.ContractFile
    val pairs = Seq(
      "conf/contracts/bronze_orders.v1.json" -> Contracts.bronzeOrders,
      "conf/contracts/silver_orders.v1.json" -> Contracts.silverOrders,
      "conf/contracts/gold_customer_features_daily.v1.json" ->
        Contracts.goldCustomerFeaturesDaily)
    pairs.foreach { case (path, code) =>
      // the artifact parses to the exact in-code contract...
      assert(ContractFile.load(path) == code, s"$path drifted from code")
      // ...hashes identically (the version-gate value)...
      assert(ContractFile.hash(path) == code.identityHash)
      // ...and regenerating the artifact reproduces the file byte-for-byte
      val tmp = java.nio.file.Files.createTempFile("contract", ".json")
      ContractFile.write(code, tmp.toString)
      assert(java.nio.file.Files.readString(tmp) ==
        java.nio.file.Files.readString(java.nio.file.Paths.get(path)),
        s"$path not writable-reproducible")
    }
  }

  test("trainer refuses a snapshot whose feature version mismatches the contract") {
    import spark.implicits._
    val snap = Seq(("c1", "2025-03-31", 1, 0L, 1L, 1L, 10, 0.0, "v_other"))
      .toDF("customer_id", "as_of_date", "recency_days", "orders_30d",
        "orders_90d", "lifetime_orders", "customer_tenure_days",
        "avg_days_between_orders", "_feature_version")
      .withColumn("as_of_date", to_date(col("as_of_date")))
      .withColumn("churn_label", lit(1))
    val contractHash = graft.contracts.ContractFile.hash(
      "conf/contracts/gold_customer_features_daily.v1.json")
    val ex = intercept[IllegalStateException] {
      graft.ml.ChurnTrainer.train(snap,
        expectedFeatureVersion = Some(contractHash))
    }
    assert(ex.getMessage.contains("does not match"))
  }

  test("contract hash is stable and sensitive to change") {
    val h1 = Contracts.goldCustomerFeaturesDaily.contractHash
    val h2 = Contracts.goldCustomerFeaturesDaily.contractHash
    assert(h1 == h2 && h1.length == 16)
    val changed = Contracts.goldCustomerFeaturesDaily.copy(
      fields = Contracts.goldCustomerFeaturesDaily.fields :+
        ("new_col" -> org.apache.spark.sql.types.IntegerType))
    assert(changed.contractHash != h1)
  }
}
