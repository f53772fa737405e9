package graft

import graft.tables.ParquetTable
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest file-stats data skipping + parallel compaction on the table
  * layer (reference: Delta's per-file stats give its MERGE
  * `orders_bronze_to_silver.py:184-192` file skipping for free; this
  * layer records the same stats in its own manifests).
  */
class TableStatsSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = Files.createTempDirectory("stats").toString

  test("profile drift across table versions flags what changed and only that") {
    import spark.implicits._
    import graft.queries.Profiling
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    val v1 = (0 until 100).map(i => (i, s"cat${i % 5}", Some(i * 1.0)))
      .toDF("k", "cat", "x")
    val before = t.overwrite(v1)
    // v2: new max key, nulls appear in x, cat cardinality collapses
    val v2 = (0 until 100).map(i => (i, "cat0",
        if (i % 10 == 0) None else Some(i * 1.0))) :+
      ((500, "cat0", Some(1.0)))
    t.overwrite(v2.toDF("k", "cat", "x"))
    val drift = Profiling.profileDrift(
      t.readVersion(before), t.read, Seq("k", "cat", "x"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(drift.keySet == Set("k", "cat", "x"))
    val k = drift("k")
    assert(k.getAs[Boolean]("max_changed") && k.getAs[Boolean]("drifted"))
    assert(!k.getAs[Boolean]("min_changed"))
    val cat = drift("cat")
    assert(cat.getAs[Double]("distinct_ratio") == 0.2 &&
      cat.getAs[Boolean]("drifted"))
    val x = drift("x")
    assert(x.getAs[Long]("n_nulls_before") == 0L &&
      x.getAs[Long]("n_nulls_after") == 10L &&
      x.getAs[Double]("null_rate_delta") > 0.09 &&
      x.getAs[Boolean]("drifted"))
  }

  test("merge with source keys inside one file's range scans only that file") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    val base = (0 until 1000).map(i => (i, s"v$i")).toDF("k", "v")
    t.overwrite(base.repartitionByRange(4, col("k")))
    assert(t.currentFiles.size == 4)

    val src = Seq((10, "X"), (20, "Y")).toDF("k", "v")
    t.merge(src, Seq("k"))
    // data skipping: of the 4 range-disjoint files, only the one whose
    // [min,max] covers keys 10 and 20 is a discovery-scan candidate
    assert(t.lastMergeScannedFiles.size == 1,
      s"expected 1 candidate file, scanned ${t.lastMergeScannedFiles}")

    // correctness unaffected: updated rows replaced, all others intact
    assert(t.read.count() == 1000)
    val got = t.read.filter(col("k").isin(10, 20))
      .orderBy("k").as[(Int, String)].collect().toSeq
    assert(got == Seq((10, "X"), (20, "Y")))
    assert(t.read.filter(col("k") === 11 && col("v") === "v11").count() == 1)
  }

  test("string keys prune too, and stats survive merge into later merges") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("id"))
    val base = (0 until 400).map(i => (f"id_$i%04d", i)).toDF("id", "n")
    t.overwrite(base.repartitionByRange(4, col("id")))
    assert(t.currentFiles.size == 4)

    t.merge(Seq(("id_0005", -5)).toDF("id", "n"), Seq("id"))
    assert(t.lastMergeScannedFiles.size == 1)

    // second merge: kept files' stats rode through the first merge's
    // manifest, so pruning still works against the rewritten table
    t.merge(Seq(("id_0350", -350)).toDF("id", "n"), Seq("id"))
    assert(t.lastMergeScannedFiles.size < t.currentFiles.size)
    assert(t.read.count() == 400)
    assert(t.read.filter(col("id") === "id_0005").as[(String, Int)]
      .collect().toSeq == Seq(("id_0005", -5)))
    assert(t.read.filter(col("id") === "id_0350").as[(String, Int)]
      .collect().toSeq == Seq(("id_0350", -350)))
  }

  test("files written without stats are always scan candidates (back-compat)") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    // write through a handle with no stats columns (old manifests)
    val plain = ParquetTable(spark, root)
    plain.overwrite((0 until 100).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")))
    // merge through a stats-declaring handle: no recorded ranges → every
    // file must be scanned, and the merge is still correct
    val t = ParquetTable(spark, root, Seq("k"))
    t.merge(Seq((7, "X")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.size == 4)
    assert(t.read.count() == 100)
    assert(t.read.filter(col("k") === 7).as[(Int, String)]
      .collect().toSeq == Seq((7, "X")))
  }

  test("append carries prior stats forward and adds the new batch's") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    t.overwrite((0 until 100).map(i => (i, "a")).toDF("k", "v"))
    t.append((100 until 200).map(i => (i, "b")).toDF("k", "v"))
    // source keys live entirely in the appended batch's range
    t.merge(Seq((150, "X")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.size < t.currentFiles.size)
    assert(t.read.count() == 200)
    assert(t.read.filter(col("k") === 150).as[(Int, String)]
      .collect().toSeq == Seq((150, "X")))
  }

  test("merge fully outside every file's range rewrites nothing, inserts source") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    t.overwrite((0 until 100).map(i => (i, "a")).toDF("k", "v")
      .repartitionByRange(4, col("k")))
    val before = t.currentFiles.toSet
    t.merge(Seq((5000, "new")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.isEmpty) // every file skipped by stats
    assert(before.subsetOf(t.currentFiles.toSet)) // nothing rewritten
    assert(t.read.count() == 101)
  }

  test("clustered compaction restores maximal merge pruning after churn") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    // hash-partitioned writes: every file spans the full key range, so a
    // point merge cannot prune anything
    t.overwrite((0 until 1000).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4))
    t.merge(Seq((500, "X")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.size == 4) // overlapping ranges: no skip

    // range-clustered rewrite: files become key-disjoint with fresh stats
    t.compactClustered(4, Seq("k"))
    assert(t.currentFiles.size == 4)
    assert(t.read.count() == 1000)
    t.merge(Seq((500, "Y")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.size == 1,
      s"expected 1 candidate after clustering, got ${t.lastMergeScannedFiles}")
    assert(t.read.filter(col("k") === 500).as[(Int, String)]
      .collect().toSeq == Seq((500, "Y")))
  }

  test("compact(4) runs wide and preserves row identity") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    t.overwrite((0 until 500).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(13))
    val before = t.read.orderBy("k").collect().toSeq
    t.compact(4)
    assert(t.currentFiles.size == 4)
    assert(t.read.orderBy("k").collect().toSeq == before)
    // compacted files got fresh stats: a point merge still prunes
    t.merge(Seq((0, "X")).toDF("k", "v"), Seq("k"))
    assert(t.lastMergeScannedFiles.size <= 4)
    assert(t.read.count() == 500)
  }

  test("replaceFiles rewrites exactly the victims, carries the rest by reference") {
    import spark.implicits._
    val t = ParquetTable(spark, s"${tmp()}/t")
    // base + two appends, partitioned: 3 files per touched partition
    def batch(r: Range) = r.map(i => (i, i % 4, s"v$i")).toDF("k", "p", "v")
    t.overwrite(batch(0 until 200), partitionBy = Seq("p"))
    val baseFiles = t.currentFiles.toSet
    t.append(batch(200 until 240), partitionBy = Seq("p"))
    t.append(batch(240 until 280), partitionBy = Seq("p"))
    val before = t.read.orderBy("k").collect().toSeq
    // victims: every file NOT in the base write (the two appends)
    val dataRoot = java.nio.file.Paths.get(s"${t.rootPath}/d")
    val victims = t.currentFiles.filterNot(baseFiles.contains)
      .map(f => dataRoot.relativize(java.nio.file.Paths.get(f)).toString)
      .toSet
    assert(victims.nonEmpty)
    assert(t.replaceFiles(victims, partitionBy = Seq("p")).nonEmpty)
    val after = t.currentFiles.toSet
    // base files survive at their ORIGINAL paths (by reference, no
    // rewrite); the fold emits one file per touched partition
    assert(baseFiles.subsetOf(after), "base files must be carried by reference")
    assert((after -- baseFiles).size == 4,
      s"expected one folded file per partition, got ${after -- baseFiles}")
    assert(t.read.orderBy("k").collect().toSeq == before,
      "row identity must survive the fold")
    // replacing nothing that exists is a no-commit no-op
    assert(t.replaceFiles(Set("vX/doesnotexist.parquet"),
      partitionBy = Seq("p")).isEmpty)
  }

  /** "dir/file" -> (col -> (type, min, max)) from version v's manifest. */
  private def manifestStats(t: ParquetTable,
      v: Long): Map[String, Map[String, (String, String, String)]] = {
    import graft.common.Json
    Files.readAllLines(java.nio.file.Paths.get(t.rootPath, "m", s"v=$v.manifest"))
      .toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t", 3))
      .map { f =>
        val ranges = if (f.length < 3) Map.empty[String, (String, String, String)]
          else Json.obj(Json.parse(f(2))).map { case (c, r) =>
            val Seq(tpe, lo, hi) = Json.arr(r).map(Json.str)
            c -> ((tpe, lo, hi))
          }
        s"${f(0)}/${f(1)}" -> ranges
      }.toMap
  }

  test("footer stats are never narrower than a Spark min/max oracle") {
    import spark.implicits._
    val big = "z" * 5000 // over parquet's 4 KiB statistics limit
    // four files: mixed values with nulls; non-ASCII strings; an
    // all-null file; and one file holding a >4 KiB string
    val rows = spark.sparkContext.parallelize((0 until 3000).sortBy(_ % 4).map { i =>
      val f = i % 4
      val s = f match {
        case 0 => if (i % 7 == 0) null else f"k$i%05d"
        case 1 => Seq("\u00e9t\u00e9", "\u4e2d\u6587", "\ud83d\ude00", "Zebra")(i % 4) + i
        case 2 => null
        case _ => if (i == 3) big else f"m$i%05d"
      }
      def opt[A](a: A): Option[A] = if (f == 2 || i % 5 == 0) None else Some(a)
      (f, s, opt(i - 1500), opt(i.toLong * 1000000007L - 7L),
        opt(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays((i * 37 % 400).toLong))))
    }, 4).toDF("f", "s", "i", "l", "d") // one slice per file shape
    val root = s"${tmp()}/t"
    val t = ParquetTable(spark, root, Seq("s", "i", "l", "d"))
    // small row groups, so each file's stats span several of them
    spark.conf.set("parquet.block.size", "4096")
    try t.overwrite(rows.drop("f"))
    finally spark.conf.unset("parquet.block.size")
    val v = t.latestVersion.get
    val stats = manifestStats(t, v)
    val dataRoot = java.nio.file.Paths.get(root, "d")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(t.currentFiles.exists(f => graft.tables.ParquetFooters
      .read(java.nio.file.Paths.get(f), conf).getBlocks.size > 1),
      "no file has more than one row group")
    assert(stats.size == t.currentFiles.size)
    var recorded = 0
    t.currentFiles.foreach { abs =>
      val key = dataRoot.relativize(java.nio.file.Paths.get(abs)).toString
      val oracle = spark.read.parquet(abs).agg(
        min("s"), max("s"), min("i"), max("i"), min("l"), max("l"),
        min("d"), max("d")).collect()(0)
      Seq("s", "i", "l", "d").zipWithIndex.foreach { case (c, j) =>
        val (lo, hi) = (oracle.get(2 * j), oracle.get(2 * j + 1))
        stats(key).get(c) match {
          case None => // unknown: always a scan candidate
          case Some((tpe, rLo, rHi)) =>
            recorded += 1
            assert(lo != null, s"$key: range recorded for all-null $c")
            def le(a: String, b: String): Boolean = tpe match {
              case "string" => java.util.Arrays.compareUnsigned(
                a.getBytes("UTF-8"), b.getBytes("UTF-8")) <= 0
              case "integer" | "long" => a.toLong <= b.toLong
              case "date" => a <= b
            }
            assert(le(rLo, lo.toString) && le(hi.toString, rHi),
              s"$key.$c: recorded [$rLo, $rHi] narrower than [$lo, $hi]")
        }
      }
    }
    // the int, long and date ranges of the three files with values
    assert(recorded >= 9, s"only $recorded ranges recorded: $stats")
  }

  test("no manifest lists a 0-row file; an all-deleted table reads empty") {
    // range partitions 0 and 1 hold no rows after the filter, and Spark
    // writes a file for task 0 even when it is empty
    def batch(lo: Long) = spark.range(lo, lo + 100, 1, 4)
      .filter(col("id") >= lo + 50).select(col("id").as("k"),
        (col("id") * 2).as("v"))
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    t.merge(batch(0), Seq("k"))
    t.overwrite(batch(100))
    t.append(batch(200))
    t.merge(batch(150), Seq("k"))
    assert(t.read.count() == 150)
    t.delete(col("k") >= 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataRoot = java.nio.file.Paths.get(t.rootPath, "d")
    t.history.map(_.version).foreach { v =>
      manifestStats(t, v).keys.foreach { f =>
        val md = graft.tables.ParquetFooters.read(dataRoot.resolve(f), conf)
        assert(graft.tables.ParquetFooters.rowCount(md) > 0,
          s"version $v lists the 0-row file $f")
      }
    }
    assert(t.currentFiles.isEmpty)
    val empty = t.read
    assert(empty.count() == 0)
    assert(empty.schema == t.readVersion(t.history.map(_.version).min).schema)
    assert(empty.columns.toSeq == Seq("k", "v"))
  }

  test("a version mixing flat and partitioned dirs reads every partition value") {
    import spark.implicits._
    def batch(lo: Int, day: String) = (lo until lo + 20)
      .map(i => (i, s"v$i", day)).toDF("k", "v", "day")
      .withColumn("day", to_date(col("day")))
    val t = ParquetTable(spark, s"${tmp()}/t", Seq("k"))
    t.append(batch(0, "2024-05-01"), partitionBy = Seq("day"))
    t.append(batch(20, "2024-05-02"), partitionBy = Seq("day"))
    t.compact(1) // flattens: `day` is now a column of the one file
    t.append(batch(40, "2024-05-03"), partitionBy = Seq("day"))
    assert(t.currentFiles.exists(!_.contains("day=")) &&
      t.currentFiles.exists(_.contains("day=")))
    val df = t.read
    assert(df.schema("day").dataType.typeName == "date")
    val byDay = df.groupBy(col("day").cast("string")).count().as[(String, Long)]
      .collect().toMap
    assert(byDay == Map("2024-05-01" -> 20L, "2024-05-02" -> 20L,
      "2024-05-03" -> 20L))
    assert(df.filter(col("day") === to_date(lit("2024-05-03")))
      .select("k").as[Int].collect().sorted.toSeq == (40 until 60))
  }
}
