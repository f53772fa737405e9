package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, input_file_name, lit, max, min, struct}
import org.apache.spark.sql.types.{StructField, StructType}

/** Versioned manifest-based Parquet table: the engine's replacement for
  * the reference's Delta Lake layer (reference uses Delta append /
  * overwrite / MERGE at `src/ingestion/orders_to_bronze.py:276-282`,
  * `src/transformations/orders_bronze_to_silver.py:184-196`,
  * `src/features/customer_features_daily.py:269-284`; our jar set has no
  * Delta, so the Delta behaviors the pipeline actually uses — atomic
  * publish, O(batch) append, keyed MERGE, time travel, retention — are
  * rebuilt on plain parquet + a manifest per version).
  *
  * Layout:
  * {{{
  *   <root>/d/v3/part-*.parquet    # immutable data dir, one per write
  *   <root>/m/v=3.manifest         # version = list of (dataDir, file)
  *   <root>/_LATEST                # current version; temp + atomic move
  *   <root>/_COMMITTED             # committed-version history log
  * }}}
  *
  * A version is a MANIFEST (a file list), not a copy of the data:
  * `append` writes only the new batch's files and emits a manifest that
  * is the previous manifest plus those files — O(batch) I/O like Delta's
  * append, never a rewrite of history. `merge` rewrites only the data
  * files that actually contain a matched key (found with one key-column
  * scan), carrying every untouched file into the new manifest by
  * reference — Delta's copy-on-write file pruning.
  *
  * Data skipping: when `statsColumns` is non-empty, every write records
  * per-file min/max for those columns in the manifest, taken from the
  * row-group statistics in the new files' parquet footers (read by the
  * writing JVM, no Spark job) — Delta's per-file stats, which are what
  * make the reference's MERGE (`orders_bronze_to_silver.py:184-192`)
  * skip files. Ranges are recorded for string, integral and date
  * columns; any other type, or a footer without a usable min/max,
  * records none. The same footers give each file's row count, and a
  * write leaves its 0-row files out of the manifest. `merge` intersects
  * the source's key bounds with each file's recorded range and runs the
  * touched-file discovery scan only over files whose range overlaps — a
  * merge of one day's keys against a year's table reads one day's files,
  * not the year. Files written before stats were declared (or by a table
  * handle without `statsColumns`) have no recorded range and are always
  * scan candidates, so old manifests stay readable and pruning is purely
  * an over-approximation of the touched set — never a correctness risk.
  *
  * Reads pass the version's recorded schema to Spark, so a read starts
  * no Spark job; only manifests written before types were recorded still
  * infer their schema from the files.
  *
  * Crash safety: data dirs and manifests are invisible until the
  * `_LATEST` pointer flips (rename is atomic on POSIX); re-runs are
  * idempotent because writers always target a fresh version number.
  * Readers of `v=N` are never disturbed: manifests and data files are
  * immutable (time travel via `readVersion`).
  *
  * Concurrency (round-14): writes are OPTIMISTIC, Delta's actual
  * contract. A writer prepares against snapshot N and its publish is a
  * compare-and-swap on the `_LATEST` pointer; losing the race means
  * rebase (append: relink the already-written files onto the winner's
  * manifest) or recompute-from-fresh-snapshot (merge/delete/replace),
  * with a clean ConcurrentModificationException abort after bounded
  * retries. Data dirs are reserved with an exclusive createDirectory so
  * racing writers can never interleave files in one dir. The reference's
  * pipeline stages are serial OS processes (SURVEY.md §3), so the serial
  * path pays only a microsecond lock around the pointer flip.
  */
final class ParquetTable(spark: SparkSession, root: String,
    statsColumns: Seq[String] = Nil) {

  /** The table's root directory (spec/maintenance aid — lets callers
    * map the absolute paths of [[currentFiles]] back to manifest
    * "dir/file" keys).
    */
  private[graft] def rootPath: String = root

  private def pointerPath: Path = Paths.get(root, "_LATEST")
  private def committedLogPath: Path = Paths.get(root, "_COMMITTED")
  private def manifestDir: Path = Paths.get(root, "m")
  private def dataDir: Path = Paths.get(root, "d")
  private def manifestPath(v: Long): Path = manifestDir.resolve(s"v=$v.manifest")
  private def dataDirName(v: Long): String = s"v$v"

  /** (relative data dir under d/, relative parquet files under that dir). */
  private type Entry = (String, Seq[String])

  def exists: Boolean = Files.exists(pointerPath)

  def latestVersion: Option[Long] =
    if (!exists) None
    else Some(new String(Files.readAllBytes(pointerPath)).trim.toLong)

  /** The set of versions that were ever committed (pointer history log ∪
    * current pointer). The log line for a version is appended AFTER its
    * atomic pointer flip, so a crash between flip and append only loses
    * the log line — the pointer itself still marks the version committed;
    * the union covers that window. A manifest NOT in this set is an
    * uncommitted orphan from a crashed writer, never valid data.
    */
  def committedVersions: Set[Long] = {
    val logged =
      if (!Files.exists(committedLogPath)) Set.empty[Long]
      else new String(Files.readAllBytes(committedLogPath))
        .split("\n").filter(_.nonEmpty)
        .map(_.split("\t")(0).trim.toLong).toSet
    logged ++ latestVersion
  }

  /** One committed version's audit record — Delta DESCRIBE HISTORY's
    * row for this layout. Commits older than round-15 (or a version
    * whose log line was lost to the flip-then-append crash window)
    * read op="unknown" with zeroed fields; the version itself is
    * still fully readable.
    */
  final case class CommitInfo(version: Long, op: String,
      tsMillis: Long, nFiles: Long)

  /** The table's commit history, newest first — Delta DESCRIBE
    * HISTORY. Derived from the committed log's per-line metadata
    * (operation name, wall-clock millis, manifest file count appended
    * at commit time); a version visible only through the pointer (the
    * crash window) synthesizes an "unknown" row, so history and
    * [[committedVersions]] always agree on membership.
    */
  def history: Seq[CommitInfo] = {
    val fromLog: Map[Long, CommitInfo] =
      if (!Files.exists(committedLogPath)) Map.empty
      else new String(Files.readAllBytes(committedLogPath))
        .split("\n").filter(_.nonEmpty).map { l =>
          val parts = l.split("\t")
          val v = parts(0).trim.toLong
          v -> (if (parts.length >= 4)
            CommitInfo(v, parts(1), parts(2).toLong, parts(3).toLong)
          else CommitInfo(v, "unknown", 0L, 0L))
        }.toMap
    committedVersions.toSeq.sorted.reverse.map(v =>
      fromLog.getOrElse(v, CommitInfo(v, "unknown", 0L, 0L)))
  }

  def read: DataFrame = latestVersion match {
    case Some(v) => readVersion(v)
    case None => throw new IllegalStateException(s"table $root does not exist")
  }

  /** Time-travel read of an immutable historical version. Only versions
    * in the committed set are readable — any other manifest is an
    * uncommitted orphan from a crashed writer, never valid data.
    */
  def readVersion(v: Long): DataFrame = {
    if (!exists)
      throw new IllegalStateException(s"table $root does not exist")
    require(committedVersions.contains(v),
      s"version $v is not committed (committed=${committedVersions.toSeq.sorted})")
    // the manifest's recorded schema pins the column order, the logical
    // names (rename mapping), and the recorded types (widened columns
    // cast up) — and, for time travel, the version's OWN schema: a
    // version written before a column was added/renamed/widened reads
    // under its own names and types
    val specs = manifestSchema(v)
    val df = readEntries(readManifest(v), specs)
    specs.fold(df)(toLogical(df, _)) // pre-round-15: union of its files
  }

  /** The PHYSICAL frame of `entries`: one union branch per data dir, so
    * Spark's partition discovery (the `k=v` path inference for
    * `partitionBy` writes) gets a correct basePath per branch; filters
    * push into every branch, so partition pruning survives the union.
    * With a recorded schema whose types are all known, each branch is
    * given that schema, so Spark runs no schema-inference job. A branch
    * leaves out only the partition columns its own files carry in their
    * paths: Spark types those from the paths (`toLogical` casts them to
    * the recorded type), while a flat dir of the same table (a compacted
    * one) reads them from its files. A column a file lacks (written
    * before an additive evolution) reads as nulls, and a narrow file
    * column reads up to its widened recorded type; a version with no
    * files is an empty frame of the recorded schema. Legacy manifests
    * (no `#types`) infer per data dir and union with
    * `allowMissingColumns` — Delta's mergeSchema read semantics.
    */
  private def readEntries(entries: Seq[Entry],
      specs: Option[Seq[ColSpec]]): DataFrame = {
    val typed = specs.filter(_.forall(_.tpe.isDefined))
    def schemaOf(files: Seq[String]): Option[StructType] = typed.map { sp =>
      val partCols = files
        .flatMap(_.split('/').init.map(_.takeWhile(_ != '='))).toSet
      StructType(sp.filterNot(s => partCols(s.phys))
        .map(s => StructField(s.phys, s.tpe.get)))
    }
    val frames = entries.collect { case (dir, files) if files.nonEmpty =>
      val base = dataDir.resolve(dir)
      val reader = spark.read.option("basePath", base.toString)
      schemaOf(files).fold(reader)(reader.schema)
        .parquet(files.map(f => base.resolve(f).toString): _*)
    }
    if (frames.nonEmpty)
      frames.reduce(_.unionByName(_, allowMissingColumns = typed.isEmpty))
    else schemaOf(Nil) match {
      case Some(schema) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case None =>
        throw new IllegalStateException(s"table $root: version has no data files")
    }
  }

  private def readManifest(v: Long): Seq[Entry] = {
    val lines = readManifestLines(v).map { case (dir, file, _) => dir -> file }
    lines.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
  }

  /** Manifest lines as (dir, file, statsJson?) — the third tab field is
    * the optional per-file column-range record; two-field lines (written
    * before stats were declared) parse with no stats. Lines starting
    * with `#` are headers (`#cols` records the version's column list),
    * not file entries.
    */
  private def readManifestLines(
      v: Long): Seq[(String, String, Option[String])] =
    Files.readAllLines(manifestPath(v)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        l.split("\t", 3) match {
          case Array(dir, file) => (dir, file, None)
          case Array(dir, file, stats) => (dir, file, Some(stats))
        }
      }

  /** One column of a version's schema-of-record (round-16). `name` is
    * the LOGICAL name users address; `phys` is the name physically
    * written in parquet files — they differ only after a
    * [[renameColumn]] (Delta's column-mapping idea: a rename changes
    * the logical name, never rewrites data; appends keep writing under
    * the original physical name so every file stays uniform, and reads
    * alias phys→logical). `tpe` is the recorded logical type: a
    * widened column (int→long) records the WIDE type while old files
    * keep their narrow physical type and cast up at read. None = a
    * pre-round-16 manifest with no `#types` header.
    */
  private[graft] final case class ColSpec(name: String, phys: String,
      tpe: Option[org.apache.spark.sql.types.DataType])

  /** The schema recorded in version v's manifest headers — `#cols`
    * (logical names + order, round-15), `#types` (catalog type strings,
    * round-16), `#phys` (physical names, round-16, present only when a
    * rename made any differ). None for pre-round-15 manifests; those
    * fall back to the union of their files' schemas. Recording the
    * schema in the manifest makes append's compatibility check free
    * (no parquet footer read), gives time travel an exact per-version
    * schema under evolution, and carries the rename mapping.
    */
  private def manifestSchema(v: Long): Option[Seq[ColSpec]] = {
    val lines = Files.readAllLines(manifestPath(v)).asScala
    def header(tag: String): Option[Seq[String]] =
      lines.find(_.startsWith(s"#$tag\t"))
        .map(_.split("\t", -1).toSeq.drop(1))
    header("cols").map { names =>
      val types = header("types").getOrElse(Nil)
      val phys = header("phys").getOrElse(Nil)
      names.zipWithIndex.map { case (n, i) =>
        val t = types.lift(i).filter(_ != "?").flatMap(s =>
          try Some(org.apache.spark.sql.types.DataType.fromDDL(s))
          catch { case _: Exception => None })
        ColSpec(n, phys.lift(i).getOrElse(n), t)
      }
    }
  }

  private def manifestCols(v: Long): Option[Seq[String]] =
    manifestSchema(v).map(_.map(_.name))

  /** Version v's schema-of-record: the manifest headers when present,
    * else names inferred from one schema read over the version's files
    * (pre-round-15 manifests; no recorded types, phys = logical).
    */
  private def tableSpecs(v: Long): Seq[ColSpec] =
    manifestSchema(v).getOrElse(
      readEntries(readManifest(v), None).schema.fields.toSeq
        .map(f => ColSpec(f.name, f.name, None)))

  /** Version v's logical column list. */
  private def tableColumns(v: Long): Seq[String] = tableSpecs(v).map(_.name)

  private def specsOf(df: DataFrame): Seq[ColSpec] =
    df.schema.fields.toSeq.map(f => ColSpec(f.name, f.name, Some(f.dataType)))

  /** logical → physical name under `specs` (identity for unknown names,
    * e.g. a partition column on a legacy table).
    */
  private def physOf(specs: Seq[ColSpec], name: String): String =
    specs.find(_.name == name).map(_.phys).getOrElse(name)

  /** Physical-file frame → the logical schema-of-record: each column
    * aliased phys→logical and cast to its recorded type (no-op when
    * equal; casts a narrow pre-widening file up). A physical column
    * entirely ABSENT from the frame (all selected files predate its
    * addition) reads as typed nulls — the column-subset analog of
    * `allowMissingColumns`.
    */
  private def toLogical(df: DataFrame, specs: Seq[ColSpec]): DataFrame =
    df.select(specs.map { sp =>
      val base =
        if (df.columns.contains(sp.phys)) col(sp.phys)
        else org.apache.spark.sql.functions.lit(null)
      sp.tpe.fold(base)(t => base.cast(t)).as(sp.name)
    }: _*)

  /** Logical frame → the physical write shape: logical names aliased
    * back to physical, each column cast to the recorded type so every
    * written file carries the schema-of-record's (possibly widened)
    * type — a narrow batch appended into a widened column lands wide
    * on disk, keeping files and their stats records uniform.
    */
  private def toPhysical(df: DataFrame, specs: Seq[ColSpec]): DataFrame =
    df.select(specs.map { sp =>
      val c = col(sp.name)
      sp.tpe.fold(c)(t => c.cast(t)).as(sp.phys)
    }: _*)

  /** The type with every nullability flag (array containsNull, map
    * valueContainsNull, struct field nullable) forced true — equality
    * modulo nullability for the evolution check.
    */
  private def normNull(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case ArrayType(e, _) => ArrayType(normNull(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(normNull(k), normNull(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = normNull(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** int→long / float→double-class widenings (Delta type widening). */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** The committed schema after accepting `df` against `existing` —
    * the shared append/merge compatibility-and-evolution check:
    *  - logical name sets must match (strict) or be a superset
    *    (mergeSchema, additive columns);
    *  - a batch column NARROWER than the recorded type upcasts at
    *    write (always accepted — Delta's implicit up-cast);
    *  - a batch column WIDER than the recorded type WIDENS the
    *    recorded type (int→long, float→double), gated on mergeSchema
    *    like added columns — old files keep their narrow physical
    *    type and cast up at read;
    *  - anything else (string→int, long→int, …) refuses.
    */
  private def evolveSchema(existing: Seq[ColSpec], df: DataFrame,
      mergeSchema: Boolean, opName: String): Seq[ColSpec] = {
    val batch = df.schema
    val batchNames = batch.fieldNames.toSeq
    val existingNames = existing.map(_.name)
    if (mergeSchema)
      require(existingNames.toSet.subsetOf(batchNames.toSet),
        s"$opName(mergeSchema) is additive: batch must carry every " +
          s"existing column; table has ${existingNames.sorted}, " +
          s"batch has ${batchNames.sorted}")
    else
      require(batchNames.toSet == existingNames.toSet,
        s"$opName schema mismatch: table has ${existingNames.sorted}, " +
          s"batch has ${batchNames.sorted} " +
          "(pass mergeSchema=true for additive evolution)")
    val evolved = existing.map { sp =>
      val bt = batch(sp.name).dataType
      sp.tpe match {
        case None => sp.copy(tpe = Some(bt)) // legacy: adopt the batch's
        // nullability (incl. array containsNull / map valueContainsNull)
        // is not a type change: a batch with tighter nullability casts
        // up to the recorded type losslessly — without this, an IVF
        // delta append whose collected centroids produce
        // array<float, containsNull=false> refuses against the stored
        // array<float, containsNull=true> and degrades to a full
        // rebuild every batch
        case Some(te) if normNull(bt) == normNull(te) => sp
        case Some(te) if widens(bt, te) => sp // narrow batch: upcast
        case Some(te) if widens(te, bt) =>
          require(mergeSchema,
            s"$opName: column ${sp.name} widens $te -> $bt — type " +
              "widening is schema evolution; pass mergeSchema=true")
          sp.copy(tpe = Some(bt))
        case Some(te) => throw new IllegalArgumentException(
          s"$opName: incompatible type change for column ${sp.name}: " +
            s"table has $te, batch has ${bt}")
      }
    }
    evolved ++ batchNames.filterNot(existingNames.contains)
      .map(n => ColSpec(n, n, Some(batch(n).dataType)))
  }

  /** "dir/file" → stats JSON for every file of version v that has stats. */
  private def readStatsMap(v: Long): Map[String, String] =
    readManifestLines(v).collect {
      case (dir, file, Some(s)) => s"$dir/$file" -> s
    }.toMap

  /** Write the manifest (temp + atomic move), flip `_LATEST`, then record
    * v in the committed log. `stats` ("dir/file" → stats JSON) rides as
    * each line's optional third field; `schema` is recorded as the
    * `#cols`/`#types`/`#phys` headers (the version's schema-of-record;
    * `#phys` only when a rename made any name differ). Callers hold the commit
    * lock; the manifest move deliberately does NOT replace — version
    * numbers are never reused, so a collision here is a protocol bug and
    * must throw, not silently clobber a committed manifest.
    *
    * `guard` re-runs the caller's commit precondition AFTER the manifest
    * lands but BEFORE the pointer flips. Under a correctly-held lock it
    * is redundant (tryCommit already checked it); its job is defense in
    * depth for the pathological case where mutual exclusion was defeated
    * (a live lock wrongly broken): a competing pointer flip in the
    * manifest-write window is then detected and this commit backs out
    * (manifest removed, false returned → ordinary conflict retry)
    * instead of publishing a manifest that silently drops the
    * competitor's committed rows.
    */
  private def commitUnlocked(v: Long, entries: Seq[Entry],
      stats: Map[String, String] = Map.empty,
      schema: Seq[ColSpec] = Nil,
      guard: () => Boolean = () => true,
      op: String = "unknown"): Boolean = {
    Files.createDirectories(manifestDir)
    val header =
      if (schema.isEmpty) ""
      else {
        val colsLine = schema.map(_.name).mkString("#cols\t", "\t", "\n")
        val typesLine =
          if (schema.forall(_.tpe.isEmpty)) ""
          else schema.map(_.tpe.fold("?")(_.catalogString))
            .mkString("#types\t", "\t", "\n")
        val physLine =
          if (schema.forall(s => s.phys == s.name)) ""
          else schema.map(_.phys).mkString("#phys\t", "\t", "\n")
        colsLine + typesLine + physLine
      }
    val body = entries.flatMap { case (dir, files) =>
      files.map { f =>
        stats.get(s"$dir/$f").fold(s"$dir\t$f")(s => s"$dir\t$f\t$s")
      }
    }.mkString(header, "\n", "\n")
    val mTmp = manifestDir.resolve(s".v=$v.manifest.tmp")
    Files.writeString(mTmp, body)
    Files.move(mTmp, manifestPath(v), StandardCopyOption.ATOMIC_MOVE)
    if (!guard()) {
      Files.deleteIfExists(manifestPath(v))
      return false
    }
    val tmp = Paths.get(root, s"._LATEST.tmp.$v")
    Files.write(tmp, v.toString.getBytes)
    Files.move(tmp, pointerPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // extended log line (round-15, DESCRIBE HISTORY): version TAB op
    // TAB wall-millis TAB manifest-file-count; pre-round-15 plain
    // number lines keep parsing (history reads them as op=unknown)
    Files.writeString(committedLogPath,
      s"$v\t$op\t${System.currentTimeMillis()}\t${entries.map(_._2.size).sum}\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    true
  }

  // ---- optimistic concurrency (round-14; Delta's actual write contract) --
  //
  // The reference relies on Delta MERGE, whose real contract is optimistic
  // conflict detection: a writer prepares against snapshot version N and
  // its commit succeeds only if N is still current; otherwise it rebases
  // (blind appends) or recomputes from the fresh snapshot (merge/delete)
  // and retries, aborting cleanly after a bounded number of attempts.
  // Here the compare-and-swap is: under a short-lived exclusive lock file,
  // re-read `_LATEST` and publish only if it still names the base the
  // writer prepared against. The lock guards ONLY the pointer-check +
  // manifest/pointer/log writes (driver-side small I/O, microseconds) —
  // data writes, discovery scans, and survivor computation all run
  // outside it, so writer throughput is unaffected at any table size.

  private def lockPath: Path = Paths.get(root, "_COMMIT.lock")

  /** A lock this old is a crashed writer's leftover: the critical
    * section is microseconds of local file I/O, so a live holder can
    * never (short of a pathological pause) be this old.
    */
  private val StaleLockMs = 30000L

  /** Lock-wait budget; `private[graft] var` so specs can shrink it to
    * assert that a LIVE (fresh) foreign lock is waited out and times out
    * — never broken.
    */
  private[graft] var commitLockTimeoutMs: Long = 60000L

  /** Lock content: creation millis + a per-acquisition random token, so
    * both release and stale-break can verify they are removing exactly
    * the lock instance they decided to remove (round-15; closes the
    * read-then-delete TOCTOU where a breaker could delete a LIVE
    * holder's freshly-created lock).
    */
  private def newLockStamp(): String =
    s"${System.currentTimeMillis()}:${java.util.UUID.randomUUID()}"

  /** Lock age for the staleness decision. Parseable content dates the
    * acquisition exactly. UNPARSEABLE content (round-16) is a writer
    * that crashed between `CREATE_NEW` and its content write — treating
    * it as forever-fresh would wedge the table permanently (every later
    * writer spins to timeout), so staleness falls back to the lock
    * FILE's mtime, which still dates the crash. Only a file that
    * vanished mid-read (the holder released) reads as fresh → retry.
    */
  private def stampAgeMs(content: String, file: Path): Long =
    try System.currentTimeMillis() - content.takeWhile(_ != ':').trim.toLong
    catch {
      case _: Exception =>
        try System.currentTimeMillis() -
          Files.getLastModifiedTime(file).toMillis
        catch { case _: Exception => 0L } // vanished: not stale, retry
    }

  /** Atomically remove the commit lock iff its content satisfies `pred`.
    * The lock is first CLAIMED by an atomic rename to a caller-unique
    * name — two removers can never both claim one lock instance, and a
    * claim that loses the race simply fails its rename — then the claim
    * is validated against `pred` read from the CLAIMED file (not from a
    * racy earlier read). A claim that fails validation (a live lock
    * created in the decide→rename window) is atomically restored.
    * Returns true iff the lock was removed.
    *
    * The one unwinnable state: a failed-validation claim whose restore
    * finds the lock path re-occupied (a third writer acquired in the
    * microsecond claim window). The claimed live holder's lock cannot be
    * given back; `throwOnUnrestorable` callers (the stale-breaker, which
    * is about to write) abort loudly rather than run unlocked, while the
    * release path — whose commit already finished — records the claim
    * file as an inert tombstone and moves on.
    */
  private def removeLockIf(pred: (String, Path) => Boolean,
      throwOnUnrestorable: Boolean): Boolean = {
    val claim = Paths.get(root,
      s"._COMMIT.claim.${java.util.UUID.randomUUID()}")
    try Files.move(lockPath, claim, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: Exception => return false } // lost the claim race
    val content =
      try new String(Files.readAllBytes(claim)).trim
      catch { case _: Exception => "" }
    // pred sees the CLAIMED file (rename preserves mtime), so the
    // unparseable-content mtime fallback stays valid post-claim
    if (pred(content, claim)) { Files.deleteIfExists(claim); true }
    else {
      try {
        Files.move(claim, lockPath, StandardCopyOption.ATOMIC_MOVE)
        false
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (throwOnUnrestorable)
            throw new IllegalStateException(
              s"table $root: lock break claimed a live lock and could " +
                "not restore it (a third writer acquired mid-claim); " +
                "aborting rather than running unlocked")
          false
      }
    }
  }

  /** Acquire the commit lock (atomic create-new of a token-stamped
    * file), run `f`, release. Release is token-verified: only THIS
    * acquisition's lock file is ever deleted, so a holder that was
    * (wrongly or rightly) broken can never delete a successor's live
    * lock. A lock older than [[StaleLockMs]] is a crashed writer's
    * leftover and is broken via [[removeLockIf]] — claim by atomic
    * rename, re-validate staleness from the claimed file, restore if it
    * turned out live — so exactly one of N racing breakers wins and a
    * live lock is never deleted. Waiting writers spin with a small
    * sleep; a table wedged longer than [[commitLockTimeoutMs]] throws
    * rather than hanging the pipeline silently.
    */
  private def withCommitLock[T](
      timeoutMs: Long = commitLockTimeoutMs)(f: => T): T = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    val myStamp = newLockStamp()
    var held = false
    Files.createDirectories(Paths.get(root))
    while (!held) {
      try {
        Files.write(lockPath, myStamp.getBytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try stampAgeMs(
              new String(Files.readAllBytes(lockPath)).trim, lockPath)
            catch { case _: Exception => 0L } // vanished: retry
          if (age > StaleLockMs)
            removeLockIf((c, p) => stampAgeMs(c, p) > StaleLockMs,
              throwOnUnrestorable = true)
          else if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"table $root: commit lock held for over ${timeoutMs} ms")
          else Thread.sleep(2)
      }
    }
    try f
    finally removeLockIf((c, _) => c == myStamp, throwOnUnrestorable = false)
  }

  /** Compare-and-swap commit: publish `entries` as the next version only
    * if `_LATEST` still names `base`; None = conflict (a concurrent
    * writer committed first — the caller rebases or recomputes). The
    * committed number is the data dir's reserved number unless a crashed
    * writer's orphan manifest sits at or past it.
    */
  private def tryCommit(base: Option[Long], preferredV: Long,
      entries: Seq[Entry], stats: Map[String, String],
      schema: Seq[ColSpec] = Nil, op: String = "unknown"): Option[Long] =
    withCommitLock() {
      if (latestVersion != base) None
      else {
        val manifestRe = "v=(\\d+)\\.manifest".r
        val maxManifest = Option(manifestDir.toFile.listFiles())
          .map(_.toSeq.collect { f =>
            f.getName match { case manifestRe(n) => n.toLong }
          }).getOrElse(Nil).maxOption.getOrElse(0L)
        val v = math.max(preferredV, maxManifest + 1L)
        // the guard re-verifies the CAS precondition between manifest
        // write and pointer flip — a no-op under mutual exclusion,
        // a lost-update stopper if a live lock was ever wrongly broken
        if (commitUnlocked(v, entries, stats, schema,
            guard = () => latestVersion == base, op = op)) Some(v)
        else None
      }
    }

  /** Spec hook: runs immediately before each commit attempt (outside the
    * lock). A two-writer spec injects a competing committed write here to
    * force the conflict path deterministically.
    */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** Conflicts detected (and survived) by the most recent public write —
    * spec/observability aid.
    */
  @volatile private[graft] var lastConflicts: Int = 0

  /** Retry budgets: a losing APPEND rebases by relinking already-written
    * files (microseconds), so it can afford many attempts under a real
    * convoy of writers; a losing MERGE/DELETE recomputes and rewrites
    * data, so it aborts after a few. Losers back off with a small jitter
    * so N racing writers don't re-collide in lockstep.
    */
  private val MaxAppendRetries = 20
  private val MaxCommitRetries = 5

  private def backoff(attempt: Int): Unit =
    Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(1L, 5L + 10L * attempt))

  /** Next version = one past every version visible on disk (manifests AND
    * data dirs), not just past the pointer: a writer that crashed after
    * writing `d/vN` or `m/v=N.manifest` but before the pointer flip
    * leaves orphans, and a rerun must allocate past them (orphans are
    * invisible to readers and harmless; reusing their number would wedge
    * the table).
    */
  private def nextVersion: Long = {
    val manifestRe = "v=(\\d+)\\.manifest".r
    val dirRe = "v(\\d+)".r
    def numbers(p: Path, re: scala.util.matching.Regex): Seq[Long] =
      Option(p.toFile.listFiles()).map(_.toSeq.collect { f =>
        f.getName match { case re(n) => n.toLong }
      }).getOrElse(Nil)
    (latestVersion.getOrElse(0L)
      +: (numbers(manifestDir, manifestRe) ++ numbers(dataDir, dirRe))).max + 1L
  }

  /** Atomically reserve a fresh data dir: `createDirectory` is exclusive
    * (fails if the dir exists), so two writers racing to the same number
    * can never interleave files inside one dir — the loser bumps to the
    * next free number. Orphan dirs from crashed writers are skipped the
    * same way.
    */
  private def reserveDataDir(from: Long): Long = {
    Files.createDirectories(dataDir)
    var v = from
    var done = false
    while (!done) {
      try {
        Files.createDirectory(dataDir.resolve(dataDirName(v)))
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    v
  }

  /** Write df's rows into a freshly RESERVED data dir (returns the
    * reserved number — normally `from`, bumped past collisions); plus
    * the entry and the per-file stats record for the declared stats
    * columns. The write mode is append because the reservation already
    * created the (empty, exclusively ours) directory — Spark's
    * errorifexists would refuse it.
    *
    * The new files' parquet footers, read without a Spark job, supply
    * both: files whose footers count 0 rows stay out of the entry (they hold
    * no key, so no merge would ever rewrite them away), and each file's
    * stats record is the range of its row-group statistics. A column
    * with no usable range in a file (all-null, another type, a value
    * over parquet's 4 KiB statistics limit) is omitted from that file's
    * record — omission means "unknown", i.e. the file is always a scan
    * candidate for that column.
    */
  private def writeData(df: DataFrame, partitionBy: Seq[String],
      from: Long): (Long, Entry, Map[String, String]) = {
    val v = reserveDataDir(from)
    val dir = dataDirName(v)
    val abs = dataDir.resolve(dir)
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(abs.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = listParquet(abs)
      .map(f => f -> ParquetFooters.read(abs.resolve(f), conf))
      .filter { case (_, md) => ParquetFooters.rowCount(md) > 0 }
    val typed = statsColumns.flatMap(c => df.schema.find(_.name == c))
    val stats = files.flatMap { case (f, md) =>
      val cols = typed.flatMap(t => ParquetFooters.range(md, t.name, t.dataType)
        .map { case (lo, hi) => (t.name, t.dataType.typeName, lo, hi) })
      if (cols.isEmpty) None else Some(s"$dir/$f" -> renderStats(cols))
    }.toMap
    (v, dir -> files.map(_._1), stats)
  }

  private def renderStats(
      cols: Seq[(String, String, String, String)]): String = {
    import graft.common.JsonIO.escape
    cols.map { case (c, t, mn, mx) =>
      s""""${escape(c)}":["${escape(t)}","${escape(mn)}","${escape(mx)}"]"""
    }.mkString("{", ",", "}")
  }

  private val StatRe =
    (""""((?:[^"\\]|\\.)*)"\s*:\s*\[\s*"((?:[^"\\]|\\.)*)"\s*,""" +
      """\s*"((?:[^"\\]|\\.)*)"\s*,\s*"((?:[^"\\]|\\.)*)"\s*\]""").r

  /** col → (typeName, min, max). */
  private def parseStats(json: String): Map[String, (String, String, String)] = {
    import graft.common.JsonIO.unescape
    StatRe.findAllMatchIn(json).map { m =>
      unescape(m.group(1)) ->
        ((unescape(m.group(2)), unescape(m.group(3)), unescape(m.group(4))))
    }.toMap
  }

  /** Relative paths of data files under a data dir (partition subdirs
    * included), excluding `_SUCCESS` and hidden files.
    */
  private def listParquet(dir: Path): Seq[String] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => dir.relativize(p).toString)
      .filter(f => f.endsWith(".parquet") &&
        !f.startsWith(".") && !f.startsWith("_"))
      .toSeq.sorted
    finally stream.close()
  }

  /** First publish or full replace (reference S5/S7 semantics). Replace
    * ignores the base snapshot by definition (last writer wins, like
    * Delta overwrite under its default isolation for this pipeline's
    * serial stages), but the publish itself still serializes under the
    * commit lock so a racing writer can never tear the pointer.
    */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    // a full replace REBASELINES the schema: physical = logical again
    // (every file is new), types = the batch's
    val (v0, entry, stats) = writeData(df, partitionBy, nextVersion)
    withCommitLock() {
      val manifestRe = "v=(\\d+)\\.manifest".r
      val maxManifest = Option(manifestDir.toFile.listFiles())
        .map(_.toSeq.collect { f =>
          f.getName match { case manifestRe(n) => n.toLong }
        }).getOrElse(Nil).maxOption.getOrElse(0L)
      val v = math.max(v0,
        math.max(maxManifest + 1L, latestVersion.getOrElse(0L) + 1L))
      commitUnlocked(v, Seq(entry), stats, specsOf(df),
        op = "overwrite")
      v
    }
  }

  /** Append-only write (reference S3/S4: bronze evidence log, audit log).
    * O(batch): only the new rows hit disk; the new manifest carries every
    * prior file by reference — exactly Delta's append I/O shape
    * (`orders_to_bronze.py:276-282`). History is never re-read or
    * re-written, so an append-only evidence log costs linear total I/O
    * in rows ingested, not quadratic in batch count.
    *
    * Optimistic under concurrency: the batch's data dir is written ONCE;
    * if the CAS finds another writer committed first, the append REBASES
    * — the same already-written files are linked onto the new current
    * manifest (blind appends never conflict semantically, exactly
    * Delta's append-vs-append behavior) — and retries. Zero data rewrite
    * on rebase.
    */
  /** With `mergeSchema` (Delta's `mergeSchema` append option, round-15
    * additive evolution): the batch may carry NEW columns on top of
    * every existing one; the committed version's `#cols` header becomes
    * existing ++ new, old files ride by reference and read null for the
    * new columns, and time travel keeps each version's own schema.
    * Without it the column sets must match exactly (the pre-evolution
    * contract). The schema check reads the manifest header — no data
    * file is opened.
    */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false): Long = {
    lastConflicts = 0
    var base = latestVersion
    var specs = base.map(cur =>
        evolveSchema(tableSpecs(cur), df, mergeSchema, "append"))
      .getOrElse(specsOf(df))
    // the batch is written PHYSICALLY: renamed columns land under
    // their original physical names so every file of the table stays
    // uniform, and columns widened by this or an earlier commit land
    // at the recorded wide type
    val (v0, entry, stats) = writeData(toPhysical(df, specs),
      partitionBy.map(physOf(specs, _)), nextVersion)
    var attempt = 0
    while (true) {
      onBeforePublish()
      val (entries, allStats) = base match {
        case None => (Seq(entry), stats)
        case Some(cur) => (readManifest(cur) :+ entry, readStatsMap(cur) ++ stats)
      }
      tryCommit(base, v0, entries, allStats, specs, op = "append") match {
        case Some(v) => return v
        case None =>
          lastConflicts += 1
          attempt += 1
          if (attempt >= MaxAppendRetries)
            throw new java.util.ConcurrentModificationException(
              s"table $root: append lost the commit race $attempt times " +
                s"(base=$base, now=$latestVersion)")
          backoff(attempt)
          base = latestVersion
          specs = base.map(cur => // the winner may have evolved the schema
              evolveSchema(tableSpecs(cur), df, mergeSchema, "append"))
            .getOrElse(specsOf(df))
      }
    }
    -1L // unreachable
  }

  /** Retention: keep the last `keepLast` COMMITTED versions (always
    * including the current one); delete every other manifest — older
    * committed history AND uncommitted orphans — plus every data file no
    * surviving manifest references (deletion is at file granularity
    * because a merge-pruned manifest may reference only part of an older
    * data dir). Returns the removed version numbers.
    *
    * Round-15 safety (Delta VACUUM's rules, after the maintenance-cron
    * race was flagged):
    *  - Only manifests/files/dirs older than `olderThanMs` are ever
    *    reclaimed (default 7 days, Delta's retention default). A
    *    concurrent in-flight writer's state — a data dir written but not
    *    yet committed, a manifest microseconds from its pointer flip —
    *    is by construction YOUNG, so it can never be swept out from
    *    under the writer. `olderThanMs = 0` is the explicit unsafe
    *    override (Delta's retentionDurationCheck escape hatch) for
    *    derived single-maintainer state and tests.
    *  - Planning and the `_COMMITTED` rewrite run under the commit lock,
    *    so a concurrent commit's log append can never be lost to the
    *    read-modify-replace (commits serialize on the same lock). The
    *    log keeps every version whose manifest survives — a young
    *    superseded version stays committed and time-travel-readable
    *    until it ages out.
    *  - Physical deletion runs OUTSIDE the lock: every victim is
    *    unreferenced by all surviving manifests and old, so no committed
    *    reader or in-flight writer can reach it; holding the
    *    microsecond-scale commit lock across bulk file I/O would stall
    *    every writer for the vacuum's duration.
    */
  def vacuum(keepLast: Int = 2,
      olderThanMs: Long = ParquetTable.DefaultVacuumRetentionMs): Seq[Long] = {
    require(keepLast >= 1 && olderThanMs >= 0L)
    if (!exists) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case _: Exception => false } // vanished: not ours to reclaim
    val manifestRe = "v=(\\d+)\\.manifest".r
    // plan + log rewrite under the lock (serializes with every commit)
    val (victims, referenced) = withCommitLock() {
      val latest = latestVersion.getOrElse(return Nil)
      val retained = (committedVersions.toSeq.sorted.takeRight(keepLast)
        :+ latest).toSet
      val manifestsOnDisk = Option(manifestDir.toFile.listFiles())
        .map(_.toSeq.collect { f =>
          f.getName match { case manifestRe(n) => n.toLong }
        }).getOrElse(Nil)
      val victims = manifestsOnDisk.sorted
        .filterNot(retained.contains)
        .filter(v => oldEnough(manifestPath(v)))
      val surviving = manifestsOnDisk.filterNot(victims.contains)
      val referenced: Set[String] = surviving
        .filter(v => Files.exists(manifestPath(v)))
        .flatMap(v => readManifest(v).flatMap { case (dir, files) =>
          files.map(f => s"$dir/$f")
        }).toSet
      // rewrite the log KEEPING each surviving version's original line
      // (the per-commit history metadata must survive retention);
      // pointer-only versions (crash window) get a synthesized line
      val victimSet = victims.toSet
      val oldLines =
        if (!Files.exists(committedLogPath)) Nil
        else new String(Files.readAllBytes(committedLogPath))
          .split("\n").filter(_.nonEmpty).toSeq
      val loggedVs = oldLines.map(_.split("\t")(0).trim.toLong)
      val keptLines = oldLines.zip(loggedVs)
        .filterNot { case (_, v) => victimSet.contains(v) }
      val synthesized = (committedVersions -- victimSet -- loggedVs)
        .toSeq.sorted.map(v => (s"$v", v))
      val tmp = Paths.get(root, "._COMMITTED.tmp")
      Files.writeString(tmp,
        (keptLines ++ synthesized).sortBy(_._2)
          .map(_._1 + "\n").mkString)
      Files.move(tmp, committedLogPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      (victims, referenced)
    }
    victims.foreach(v => Files.deleteIfExists(manifestPath(v)))
    // delete old unreferenced data files, then any OLD dirs left empty;
    // a young data dir (an in-flight writer's, or just-committed) is
    // skipped wholesale. Collect fully-removed orphan dirs' numbers.
    val dirRe = "v(\\d+)".r
    val removedDirs = Option(dataDir.toFile.listFiles()).map(_.toSeq
      .filter(d => d.isDirectory && oldEnough(d.toPath)).flatMap { d =>
        val dirName = d.getName
        listParquet(d.toPath)
          .filterNot(f => referenced.contains(s"$dirName/$f"))
          .filter(f => oldEnough(d.toPath.resolve(f)))
          .foreach(f => Files.deleteIfExists(d.toPath.resolve(f)))
        // drop now-empty partition subdirs and the data dir itself
        def sweep(f: java.io.File): Boolean = {
          val children = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
          val emptied = children.forall {
            c => if (c.isDirectory) sweep(c)
                 else if (c.getName == "_SUCCESS" || c.getName.startsWith(".")) {
                   c.delete(); true
                 } else false
          }
          if (emptied) f.delete()
          emptied
        }
        if (sweep(d)) dirName match {
          case dirRe(n) => Some(n.toLong)
          case _ => None
        } else None
      }).getOrElse(Nil)
    (victims ++ removedDirs.filterNot(victims.contains)).distinct.sorted
  }

  /** Compaction: rewrite the current version into `targetFiles` output
    * files and commit it as a new version (Delta OPTIMIZE's role for
    * this layout). Merge/append churn accumulates small files; scans pay
    * per-file overhead, so long-lived tables compact periodically.
    * Readers are never disturbed — it's an ordinary pointer-flipped
    * publish of identical rows. For targetFiles > 1 the rewrite is a
    * `repartition` so it runs as targetFiles parallel write tasks;
    * `coalesce` would funnel the whole table through at most targetFiles
    * upstream tasks with no shuffle to spread them. A single-file target
    * keeps `coalesce(1)` — one write task is inherent there and the
    * shuffle would buy nothing.
    */
  def compact(targetFiles: Int = 1): Long =
    rewriteCurrent(df =>
      if (targetFiles <= 1) df.coalesce(1)
      else df.repartition(targetFiles), Nil, op = "compact")

  /** Row-preserving rewrite of the CURRENT version, committed with the
    * same compare-and-swap as every other writer (round-15): the rewrite
    * prepares against snapshot `cur` and publishes only if `cur` is
    * still current, recomputing from the fresh snapshot on conflict. The
    * compaction family MUST NOT publish through [[overwrite]] — its
    * deliberate last-writer-wins would silently drop the rows of an
    * append/merge that committed between the compaction's read and its
    * publish (the maintenance-cron-races-ingest case). Genuine
    * full-replace semantics remain overwrite's, and only overwrite's,
    * contract.
    */
  private[graft] def rewriteCurrent(transform: DataFrame => DataFrame,
      partitionBy: Seq[String] = Nil, op: String = "rewrite"): Long = {
    lastConflicts = 0
    var attempt = 0
    while (true) {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"table $root does not exist"))
      // the rewrite reads LOGICAL (readVersion) and writes the
      // transformed frame as-is — a full rewrite REBASELINES the
      // schema: physical names = logical again (rename debt healed by
      // compaction), recorded types = the frame's (already the
      // widened/cast-up ones)
      val out = transform(readVersion(cur))
      val (v0, entry, stats) = writeData(out, partitionBy, nextVersion)
      onBeforePublish()
      tryCommit(Some(cur), v0, Seq(entry), stats, specsOf(out),
        op = op) match {
        case Some(v) => return v
        case None => // a writer landed mid-rewrite: recompute on its snapshot
          lastConflicts += 1
          attempt += 1
          if (attempt >= MaxCommitRetries)
            throw new java.util.ConcurrentModificationException(
              s"table $root: rewrite lost the commit race $attempt times")
          backoff(attempt)
      }
    }
    -1L // unreachable
  }

  /** Clustered compaction: rewrite the current version range-partitioned
    * and sorted on `clusterBy` (Delta OPTIMIZE ZORDER's role for the
    * 1-D case). Output files cover disjoint key ranges, so with
    * `clusterBy ⊆ statsColumns` the recorded per-file stats become
    * maximally selective — a later point merge's discovery scan prunes
    * to a single file instead of every file a hash layout would leave
    * overlapping. Run periodically on merge-heavy tables to restore
    * skipping power as churn smears key ranges across files.
    */
  def compactClustered(targetFiles: Int, clusterBy: Seq[String]): Long = {
    require(targetFiles >= 1 && clusterBy.nonEmpty)
    val cols = clusterBy.map(col)
    rewriteCurrent(_.repartitionByRange(targetFiles, cols: _*)
      .sortWithinPartitions(cols: _*), Nil, op = "cluster")
  }

  /** Multi-dimensional clustered compaction: rewrite the current version
    * range-partitioned and sorted on a Z-ORDER key over `zCols` (Delta
    * OPTIMIZE ZORDER — the n-D counterpart of [[compactClustered]]).
    * A 1-D sort makes only the leading column's per-file stats
    * selective; the interleaved key makes EVERY clustered column's
    * recorded [min,max] tight at once, so a multi-column box probe
    * ([[readBox]]) or a merge keyed on any clustered column prunes
    * files. `zCols` must be integral columns. The column ranges come
    * from one tiny aggregate over the current version; at 100 TB the
    * same bounds are available for free from the manifest's own file
    * stats, and the rewrite's only wide op is the one range exchange
    * any layout job pays.
    */
  def compactZOrdered(targetFiles: Int, zCols: Seq[String],
      bits: Int = 8): Long = {
    require(targetFiles >= 1 && zCols.size >= 2)
    rewriteCurrent({ df =>
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val (mins, maxs) = zCols.indices
        .map(i => (r.getLong(2 * i), r.getLong(2 * i + 1))).unzip
      val z = graft.operators.ZOrder.zkey(zCols.map(col), mins, maxs, bits)
      df.withColumn("__graft_z", z)
        .repartitionByRange(targetFiles, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z")
    }, Nil, op = "zorder")
  }

  /** RESTORE — Delta's `RESTORE TABLE ... TO VERSION AS OF v`: make a
    * committed historical version current again by publishing a NEW
    * commit whose manifest is v's manifest verbatim — every file by
    * reference, zero data copied or rewritten, history strictly
    * append-only (the bad versions stay time-travel-readable for the
    * post-mortem; vacuum ages them out later). The operational undo
    * for a bad merge/delete/compaction. Publishes under the commit
    * lock like every writer; an explicit restore is a deliberate
    * point-in-time decision, so like [[overwrite]] it does not CAS
    * against a base snapshot — last writer wins.
    */
  /** Round-16 safety: ALL of restore's validation and reads run inside
    * the commit lock, serializing with vacuum's planning/log-rewrite
    * phase — a vacuum that chose v as a victim removed it from the
    * committed log UNDER the lock, so a later locked restore sees the
    * removal and refuses before publishing; a restore that commits
    * first makes v's files referenced by the new current manifest, so a
    * later vacuum keeps them. A version whose manifest or data files
    * were ALREADY reclaimed (restore-after-vacuum) refuses loudly up
    * front with [[RestoreTargetVacuumedException]] instead of
    * publishing a current version that cannot be read.
    */
  def restore(v: Long): Long = withCommitLock() {
    if (!committedVersions.contains(v))
      throw new ParquetTable.RestoreTargetVacuumedException(
        s"RESTORE refused: version $v of table $root is not in the " +
          s"committed set (committed=${committedVersions.toSeq.sorted}) — " +
          "it never existed or was reclaimed by vacuum")
    if (!Files.exists(manifestPath(v)))
      throw new ParquetTable.RestoreTargetVacuumedException(
        s"RESTORE refused: version $v of table $root has no manifest " +
          "on disk — it was reclaimed by vacuum")
    val entries = readManifest(v)
    val missing = entries.flatMap { case (dir, fs) =>
      fs.filterNot(f => Files.exists(dataDir.resolve(dir).resolve(f)))
        .map(f => s"$dir/$f")
    }
    if (missing.nonEmpty)
      throw new ParquetTable.RestoreTargetVacuumedException(
        s"RESTORE refused: version $v of table $root references " +
          s"${missing.size} data file(s) already reclaimed by vacuum " +
          s"(first: ${missing.head})")
    val stats = readStatsMap(v)
    val schema = manifestSchema(v).getOrElse(Nil)
    val manifestRe = "v=(\\d+)\\.manifest".r
    val maxManifest = Option(manifestDir.toFile.listFiles())
      .map(_.toSeq.collect { f =>
        f.getName match { case manifestRe(n) => n.toLong }
      }).getOrElse(Nil).maxOption.getOrElse(0L)
    val nv = math.max(maxManifest + 1L, latestVersion.getOrElse(0L) + 1L)
    commitUnlocked(nv, entries, stats, schema, op = s"restore(v=$v)")
    nv
  }

  /** RENAME COLUMN — Delta's column-mapping rename: a metadata-only
    * commit that changes the LOGICAL name while every data file keeps
    * the original physical name (zero data rewritten; appends keep
    * writing under the physical name so files stay uniform; reads
    * alias phys→logical). Historical versions time-travel under their
    * own recorded names. The whole operation runs under the commit
    * lock — read-evolve-commit on the current schema is not safely
    * CAS-able from outside it.
    */
  def renameColumn(oldName: String, newName: String): Long = withCommitLock() {
    val cur = latestVersion.getOrElse(
      throw new IllegalStateException(s"table $root does not exist"))
    val specs = tableSpecs(cur)
    require(specs.exists(_.name == oldName),
      s"rename: no column $oldName (have ${specs.map(_.name).sorted})")
    require(!specs.exists(_.name == newName),
      s"rename: column $newName already exists")
    val renamed = specs.map(sp =>
      if (sp.name == oldName) sp.copy(name = newName) else sp)
    val manifestRe = "v=(\\d+)\\.manifest".r
    val maxManifest = Option(manifestDir.toFile.listFiles())
      .map(_.toSeq.collect { f =>
        f.getName match { case manifestRe(n) => n.toLong }
      }).getOrElse(Nil).maxOption.getOrElse(0L)
    val nv = math.max(maxManifest + 1L, cur + 1L)
    commitUnlocked(nv, readManifest(cur), readStatsMap(cur), renamed,
      op = s"rename($oldName->$newName)")
    nv
  }

  /** Stats-pruned box scan — Delta data skipping on the READ path: files
    * whose recorded [min,max] provably cannot intersect the literal
    * bounds are never opened; the predicate is then applied to the
    * survivors (pruning is an over-approximation, so results are exact
    * regardless of layout). After [[compactZOrdered]] on the probed
    * columns a small box opens a handful of files out of thousands.
    * The scanned candidate set is recorded in [[lastBoxScannedFiles]].
    */
  def readBox(bounds: Seq[(String, Long, Long)]): DataFrame = {
    require(bounds.nonEmpty)
    val pred = bounds.map { case (k, lo, hi) =>
      col(k) >= lit(lo) && col(k) <= lit(hi)
    }.reduce(_ && _)
    latestVersion match {
      case None => throw new IllegalStateException(s"no version at $root")
      case Some(cur) =>
        val specs = tableSpecs(cur)
        val entries = readManifest(cur)
        // bounds address logical names; stats are physical-keyed
        val lit_ = bounds.map { case (k, lo, hi) =>
          physOf(specs, k) -> ((lo.toString, hi.toString))
        }.toMap
        val candidates =
          pruneByBounds(entries, readStatsMap(cur), lit_)
        lastBoxScanned = candidates.flatMap { case (dir, files) =>
          files.map(f => s"$dir/$f")
        }
        if (candidates.isEmpty) read.limit(0).filter(pred)
        else toLogical(readEntries(candidates, Some(specs)), specs).filter(pred)
    }
  }

  @volatile private var lastBoxScanned: Seq[String] = Nil

  /** "dir/file" of every candidate the last [[readBox]] actually opened
    * (post-data-skipping) — spec/debug aid like [[lastMergeScannedFiles]].
    */
  private[graft] def lastBoxScannedFiles: Seq[String] = lastBoxScanned

  /** Targeted file replacement: rewrite exactly the `victims`
    * ("dir/file" manifest keys) into one fresh data dir and commit a
    * version that carries every OTHER file by reference — the
    * primitive under tiered compaction, where the point is to fold a
    * partition's small delta files together WITHOUT ever re-reading or
    * re-writing its large base file (a full `compact` rewrites the
    * whole table; at scale the base dominates the bytes and must stay
    * untouched). When `partitionBy` is non-empty the victim rows are
    * repartitioned on those columns before the write, so the fold
    * emits exactly one file per touched partition value. Victim rows
    * are read with per-dir basePath (partition columns re-inferred),
    * so the rewritten files land under the same `k=v` layout. Stats
    * records for surviving files carry over; the new files get fresh
    * stats. Returns None (no commit) when no victim actually exists in
    * the current manifest. Readers of prior versions are never
    * disturbed; reclaiming the replaced files is `vacuum`'s job.
    */
  private[graft] def replaceFiles(victims: Set[String],
      partitionBy: Seq[String] = Nil): Option[Long] = {
    lastConflicts = 0
    var attempt = 0
    while (true) {
      val cur = latestVersion.getOrElse(return None)
      val entries = readManifest(cur)
      val (victimEntries, keptEntries) = (
        entries.map { case (d, fs) =>
          d -> fs.filter(f => victims.contains(s"$d/$f"))
        }.filter(_._2.nonEmpty),
        entries.map { case (d, fs) =>
          d -> fs.filterNot(f => victims.contains(s"$d/$f"))
        }.filter(_._2.nonEmpty))
      if (victimEntries.isEmpty) return None
      val specs = tableSpecs(cur)
      val rows = readEntries(victimEntries, Some(specs))
      val folded =
        if (partitionBy.isEmpty) rows
        else rows.repartition(partitionBy.map(col): _*)
      val (v0, entry, newStats) = writeData(folded, partitionBy, nextVersion)
      val keptFiles = keptEntries.flatMap { case (d, fs) =>
        fs.map(f => s"$d/$f")
      }.toSet
      onBeforePublish()
      // replaceFiles stays entirely in PHYSICAL space (rows rewritten
      // verbatim), so the schema-of-record is carried unchanged
      tryCommit(Some(cur), v0, keptEntries :+ entry,
        readStatsMap(cur).view.filterKeys(keptFiles.contains).toMap
          ++ newStats, specs, op = "replace") match {
        case Some(v) => return Some(v)
        case None => // victim set may be stale — re-derive from the winner
          lastConflicts += 1
          attempt += 1
          if (attempt >= MaxCommitRetries)
            throw new java.util.ConcurrentModificationException(
              s"table $root: replaceFiles lost the commit race $attempt times")
          backoff(attempt)
      }
    }
    None // unreachable
  }

  /** Keyed upsert — the reference's Delta MERGE
    * `whenMatchedUpdateAll.whenNotMatchedInsertAll`
    * (`orders_bronze_to_silver.py:184-192`): every target row whose key
    * appears in `source` is replaced by the source row; unmatched source
    * rows are inserted. Like Delta, a source with duplicate keys fails
    * fast (multiple matches per target row are ambiguous) rather than
    * silently inserting duplicates for a downstream DQ gate to catch.
    *
    * File pruning, two layers:
    *  1. Data skipping — when the manifest carries per-file stats for the
    *     merge keys, files whose recorded [min,max] cannot intersect the
    *     source's key bounds are skipped before any data is read.
    *  2. One key-column scan of the remaining candidates finds the files
    *     that actually contain a matched key (`input_file_name` + semi
    *     join); only those files are re-written — every untouched file
    *     rides into the new manifest by reference, so a merge touching
    *     0.1% of keys rewrites ~0.1% of the table, not 100%.
    */
  def merge(source: DataFrame, keys: Seq[String],
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false): Long = {
    val keyCols = keys.map(col)
    // one aggregate over the source: the duplicate-key check and the
    // key bounds that data skipping intersects with the file ranges
    val head = source.agg(count(lit(1)), count_distinct(struct(keyCols: _*))
      +: keys.flatMap(k => Seq(min(col(k)).cast("string"),
        max(col(k)).cast("string"))): _*).collect()(0)
    require(head.getLong(0) == head.getLong(1),
      s"merge source has duplicate keys on ${keys.mkString(",")} " +
        s"(${head.getLong(0)} rows, ${head.getLong(1)} distinct) — " +
        "Delta MERGE parity: multiple source matches are an error")
    val srcBounds: Seq[(String, (String, String))] =
      keys.zipWithIndex.flatMap { case (k, i) =>
        Option(head.getString(2 + 2 * i))
          .zip(Option(head.getString(3 + 2 * i))).map(k -> _)
      }
    lastConflicts = 0
    var attempt = 0
    while (true) {
      val outcome: Option[Long] = latestVersion match {
        case None =>
          // first publish still CASes against the empty table: two racing
          // first-merges must not both win
          val (v0, entry, stats) = writeData(source, partitionBy, nextVersion)
          onBeforePublish()
          tryCommit(None, v0, Seq(entry), stats, specsOf(source),
            op = "merge")
        case Some(cur) =>
          // additive evolution (Delta MERGE + mergeSchema): a source
          // with NEW columns (or a WIDENED type) on top of every
          // existing one upserts normally — untouched files ride by
          // reference and read null (or cast up) for the evolution;
          // surviving rows of touched files get null via the
          // missing-tolerant logical mapping
          val curSpecs = tableSpecs(cur)
          val specs = evolveSchema(curSpecs, source, mergeSchema, "merge")
          val entries = readManifest(cur)
          val priorStats = readStatsMap(cur)
          val srcKeys = source.select(keyCols: _*).distinct()
          // bounds come off the LOGICAL source; stats records are keyed
          // by the PHYSICAL column name the file was written under
          val candidates = pruneByBounds(entries, priorStats,
            srcBounds.map { case (k, b) => physOf(specs, k) -> b }.toMap)
          lastScanned = candidates.flatMap { case (dir, files) =>
            files.map(f => s"$dir/$f")
          }
          // discovery scan reads PHYSICAL files: select the keys by
          // their physical names, aliased back to logical for the join
          val touched: Set[String] =
            if (candidates.isEmpty) Set.empty
            else readEntries(candidates, Some(curSpecs))
              .select(keys.map(k => col(physOf(specs, k)).as(k)) :+
                input_file_name().as("__graft_file"): _*)
              .join(srcKeys, keys, "left_semi")
              .select("__graft_file").distinct()
              .collect().map(r => baseName(r.getString(0))).toSet
          val (touchedEntries, keptEntries) =
            splitEntries(entries, touched)
          // survivors are computed in LOGICAL space (toLogical is
          // missing-tolerant: a touched pre-evolution file's rows read
          // null for newer columns) and written back PHYSICAL
          val survivors =
            if (touchedEntries.forall(_._2.isEmpty)) source
            else toLogical(readEntries(touchedEntries, Some(curSpecs)), specs)
              .join(srcKeys, keys, "left_anti")
              .unionByName(source, allowMissingColumns = true)
          val (v0, entry, newStats) = writeData(
            toPhysical(survivors, specs),
            partitionBy.map(physOf(specs, _)), nextVersion)
          val keptFiles = keptEntries.flatMap { case (d, fs) =>
            fs.map(f => s"$d/$f")
          }.toSet
          onBeforePublish()
          tryCommit(Some(cur), v0, keptEntries :+ entry,
            priorStats.view.filterKeys(keptFiles.contains).toMap ++ newStats,
            specs, op = "merge")
      }
      outcome match {
        case Some(v) => return v
        case None =>
          // a concurrent commit may have rewritten files this merge
          // decided to keep or touch, so the prepared survivors are
          // stale — recompute everything from the fresh snapshot (the
          // abandoned data dir is an orphan; vacuum reclaims it). This
          // is Delta's merge-retry shape: correctness over reuse.
          lastConflicts += 1
          attempt += 1
          if (attempt >= MaxCommitRetries)
            throw new java.util.ConcurrentModificationException(
              s"table $root: merge lost the commit race $attempt times " +
                s"(now=$latestVersion)")
          backoff(attempt)
      }
    }
    -1L // unreachable
  }

  @volatile private var lastScanned: Seq[String] = Nil

  /** "dir/file" of every file the last merge's touched-file discovery
    * actually scanned (i.e. the post-data-skipping candidate set) —
    * spec/debug aid like [[currentFiles]].
    */
  private[graft] def lastMergeScannedFiles: Seq[String] = lastScanned

  /** Predicate delete — Delta's `DELETE WHERE` (the retention/PII-erasure
    * op the reference's Delta layer gets for free and the plain-parquet
    * pipeline lacks). Copy-on-write at file granularity, like [[merge]]:
    * one column-pruned discovery scan (`input_file_name` + the predicate)
    * finds the files that actually contain a matching row; only those are
    * re-written WITHOUT their matching rows, every untouched file rides
    * into the new manifest by reference. Rows where the predicate is NULL
    * are kept (SQL DELETE semantics: only `true` deletes). Returns None —
    * no new version — when nothing matches.
    */
  def delete(condition: org.apache.spark.sql.Column,
      partitionBy: Seq[String] = Nil): Option[Long] = {
    lastConflicts = 0
    var attempt = 0
    while (true) {
      val cur = latestVersion.getOrElse(
        throw new IllegalStateException(s"table $root does not exist"))
      val specs = tableSpecs(cur)
      val entries = readManifest(cur)
      // the condition addresses LOGICAL names; both scans map through
      // the schema-of-record (rename aliasing + widening casts)
      val touched: Set[String] = toLogical(readEntries(entries, Some(specs)), specs)
        .filter(condition)
        .select(input_file_name().as("__graft_file"))
        .distinct().collect().map(r => baseName(r.getString(0))).toSet
      if (touched.isEmpty) return None
      val (touchedEntries, keptEntries) = splitEntries(entries, touched)
      val survivors = toLogical(readEntries(touchedEntries, Some(specs)), specs)
        .filter(!org.apache.spark.sql.functions.coalesce(
          condition, lit(false)))
      val (v0, entry, newStats) = writeData(toPhysical(survivors, specs),
        partitionBy.map(physOf(specs, _)), nextVersion)
      val keptFiles = keptEntries.flatMap { case (d, fs) =>
        fs.map(f => s"$d/$f")
      }.toSet
      onBeforePublish()
      tryCommit(Some(cur), v0, keptEntries :+ entry,
        readStatsMap(cur).view.filterKeys(keptFiles.contains).toMap
          ++ newStats, specs, op = "delete") match {
        case Some(v) => return Some(v)
        case None => // stale survivors — recompute from the fresh snapshot
          lastConflicts += 1
          attempt += 1
          if (attempt >= MaxCommitRetries)
            throw new java.util.ConcurrentModificationException(
              s"table $root: delete lost the commit race $attempt times")
          backoff(attempt)
      }
    }
    None // unreachable
  }

  /** Change feed between two committed versions — Delta's CDF
    * `table_changes(v1, v2)`, derived from the manifests instead of a
    * logged change stream. Because data files are IMMUTABLE and a version
    * is a file list, any row living in a file referenced by BOTH
    * manifests is bitwise-identical in both versions and cannot appear in
    * the diff — so only the SYMMETRIC DIFFERENCE of the two file sets is
    * read: the old-only files supply candidate deletes/old-values, the
    * new-only files candidate inserts/new-values, and a keyed full-outer
    * join over just those rows classifies insert/update/delete. A merge
    * that rewrote 0.1% of a 100 TB table yields a change feed that READS
    * 0.1% of the table, not two full snapshots.
    */
  def changesBetween(v1: Long, v2: Long, keys: Seq[String],
      compare: Seq[String]): DataFrame = {
    Seq(v1, v2).foreach(v => require(committedVersions.contains(v),
      s"version $v is not committed (committed=${committedVersions.toSeq.sorted})"))
    def files(v: Long): Set[String] =
      readManifest(v).flatMap { case (d, fs) => fs.map(f => s"$d/$f") }.toSet
    def restrict(v: Long, keep: Set[String]): DataFrame = {
      val sub = readManifest(v).map { case (d, fs) =>
        d -> fs.filter(f => keep.contains(s"$d/$f"))
      }.filter(_._2.nonEmpty)
      // each side reads under ITS OWN version's logical schema, so the
      // keyed diff joins logical names even across a rename boundary
      if (sub.nonEmpty) {
        val specs = manifestSchema(v)
        val df = readEntries(sub, specs)
        specs.fold(df)(toLogical(df, _))
      }
      else readVersion(v).where(lit(false)) // schema-only empty frame
    }
    val (f1, f2) = (files(v1), files(v2))
    graft.operators.ChangeFeed.snapshotDiff(
      restrict(v1, f1 -- f2), restrict(v2, f2 -- f1), keys, compare)
  }

  /** Entries restricted to files whose recorded ranges can overlap the
    * given per-column [min,max] bounds (string-cast form, compared under
    * the recorded column type's real ordering) — the shared skipping
    * core under merge discovery and [[readBox]].
    */
  private def pruneByBounds(entries: Seq[Entry], stats: Map[String, String],
      bounds: Map[String, (String, String)]): Seq[Entry] = {
    if (stats.isEmpty || bounds.isEmpty) return entries
    entries.map { case (dir, files) =>
      dir -> files.filter { f =>
        stats.get(s"$dir/$f").forall { json =>
          val ranges = parseStats(json)
          !bounds.exists { case (k, (sMin, sMax)) =>
            ranges.get(k).exists { case (t, fMin, fMax) =>
              disjoint(t, fMin, fMax, sMin, sMax)
            }
          }
        }
      }
    }.filter(_._2.nonEmpty)
  }

  /** True only when [fMin,fMax] and [sMin,sMax] provably cannot
    * intersect under the column type's ordering.
    */
  private def disjoint(tpe: String, fMin: String, fMax: String,
      sMin: String, sMax: String): Boolean =
    cmp(tpe, fMin, sMax).exists(_ > 0) || cmp(tpe, sMin, fMax).exists(_ > 0)

  /** Compare two CAST-to-string values under `tpe`'s real ordering; None
    * for types where the string form doesn't order correctly (e.g.
    * timestamps trim trailing fraction zeros) — those never prune.
    */
  private def cmp(tpe: String, a: String, b: String): Option[Int] =
    try tpe match {
      case "byte" | "short" | "integer" | "long" =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case "float" | "double" =>
        Some(java.lang.Double.compare(a.toDouble, b.toDouble))
      case t if t.startsWith("decimal") =>
        Some(BigDecimal(a).compare(BigDecimal(b)))
      case "string" => // Spark orders strings by UTF-8 bytes (UTF8String)
        Some(java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case "date" => // ISO yyyy-MM-dd: lexicographic == chronological
        Some(a.compareTo(b))
      case _ => None
    } catch { case _: NumberFormatException => None }

  private def baseName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  /** Partition each entry's file list into (touched, untouched) by part
    * file name — part names carry task UUIDs, unique across writes.
    */
  private def splitEntries(entries: Seq[Entry],
      touched: Set[String]): (Seq[Entry], Seq[Entry]) = {
    val t = entries.map { case (dir, files) =>
      dir -> files.filter(f => touched.contains(baseName(f)))
    }.filter(_._2.nonEmpty)
    val k = entries.map { case (dir, files) =>
      dir -> files.filterNot(f => touched.contains(baseName(f)))
    }.filter(_._2.nonEmpty)
    (t, k)
  }

  /** Absolute paths of the current version's data files (spec/debug aid —
    * lets callers assert which physical files a version references).
    */
  def currentFiles: Seq[String] = latestVersion match {
    case None => Nil
    case Some(v) => readManifest(v).flatMap { case (dir, files) =>
      files.map(f => dataDir.resolve(dir).resolve(f).toString)
    }.sorted
  }
}

object ParquetTable {
  /** Thrown by [[ParquetTable.restore]] when the target version (its
    * manifest or any referenced data file) was already reclaimed by
    * vacuum — the refusal happens BEFORE the pointer flips, so the
    * table's current version stays readable (Delta errors only at read
    * time after such a restore; refusing up front is strictly safer).
    */
  final class RestoreTargetVacuumedException(msg: String)
    extends IllegalStateException(msg)

  /** Default vacuum retention — Delta VACUUM's 7-day default. Anything
    * younger is presumed reachable: an in-flight writer's uncommitted
    * data, a mid-commit manifest, or a reader's still-open old version.
    */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 3600 * 1000

  def apply(spark: SparkSession, root: String): ParquetTable =
    new ParquetTable(spark, root)

  /** Table handle that records per-file min/max for `statsColumns` at
    * write time, enabling merge data skipping.
    */
  def apply(spark: SparkSession, root: String,
      statsColumns: Seq[String]): ParquetTable =
    new ParquetTable(spark, root, statsColumns)
}
