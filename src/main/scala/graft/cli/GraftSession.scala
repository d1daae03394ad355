package graft.cli

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources._

/** Engine session: builds the SparkSession, registers the compat
  * functions, loads each input file as a temp view (reference
  * lifecycle: SURVEY.md §3) and runs scripts statement-by-statement.
  */
object GraftSession {

  /** The one session factory: every main, the CLI and the test
    * session build through it, so every path runs with the same
    * functions, optimizer rules and session conf (one shuffle
    * partition per task slot, UTC, Spark's ANSI default; scripts turn
    * ANSI off for themselves in [[ScriptRunner.run]]). Callers that
    * need another value set it on the returned session. */
  def build(master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")): SparkSession = {
    val spark = SparkSession.builder()
      .appName("sqawk-spark")
      .master(master)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's generated-class cache holds 100 classes in 4 LRU
      // segments keyed by a per-JVM hash, so a session that runs a few
      // dozen plans again and again (script after script, Bench/Verify
      // sweeps) recompiles a different, random share of them on every
      // pass. Sized to keep a long-lived session's classes.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Spool stdin to a temp file in 1 MiB chunks (the reference's
    * buffered-read granularity, awk.tcl:150) so every format goes
    * through its normal file reader — stdin is never buffered whole
    * on the driver.
    *
    * The spool lands in `java.io.tmpdir` by default, which is only
    * readable by executors in local mode; on a real cluster point
    * `graft.staging.dir` (system property) or `SPARK_GRAFT_STAGING_DIR`
    * (env) at a shared filesystem (NFS/HDFS-fuse/object-store mount)
    * so executors can read the spooled input. */
  private def stagingDir: Option[Path] =
    sys.props.get("graft.staging.dir")
      .orElse(sys.env.get("SPARK_GRAFT_STAGING_DIR"))
      .map(Paths.get(_))

  private def spoolStdin(): String = {
    val f = stagingDir match {
      case Some(d) =>
        Files.createDirectories(d)
        Files.createTempFile(d, "graft-stdin", ".dat")
      case None => Files.createTempFile("graft-stdin", ".dat")
    }
    f.toFile.deleteOnExit()
    val out = Files.newOutputStream(f)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = System.in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = System.in.read(buf)
      }
    } finally out.close()
    f.toString
  }

  /** Read one file per its format options into the sqawk table shape. */
  def readFile(spark: SparkSession, spec: FileSpec, g: GlobalOptions, tableIndex: Int): DataFrame = {
    val tOpts = Options.tableOptions(spec, g, tableIndex)
    val paths = Seq(if (spec.filename == "-") spoolStdin() else spec.filename)
    spec.format match {
      case "awk" =>
        val awk = AwkOptions(
          fs = spec.options.getOrElse("FS", g.fs),
          rs = spec.options.getOrElse("RS", g.rs),
          fields = spec.options.getOrElse("fields", "auto"),
          trim = spec.options.getOrElse("trim", "none"))
        AwkReader.read(spark, paths, awk, tOpts)
      case "csv" | "csv2" | "csvalt" =>
        val csv = CsvOptions(
          sep = spec.options.getOrElse("csvsep", ",").headOption.getOrElse(','),
          quote = spec.options.getOrElse("csvquote", "\"").headOption.getOrElse('"'),
          alt = spec.format != "csv")
        CsvReader.read(spark, paths, csv, tOpts)
      case "json" =>
        val json = JsonOptions(
          kv = spec.options.get("kv").forall(Options.parseBool),
          lines = spec.options.get("lines").exists(Options.parseBool))
        JsonReader.read(spark, paths, json, tOpts)
      case "tcl" =>
        val tcl = TclOptions(
          kv = spec.options.get("kv").exists(Options.parseBool),
          lines = spec.options.get("lines").exists(Options.parseBool))
        TclReader.read(spark, paths, tcl, tOpts)
      case other =>
        throw new IllegalArgumentException(s"unknown input format: $other")
    }
  }

  /** Table row count: from the nr column's build-time metadata when
    * present (no Spark job), else one aggregate job as fallback. */
  private def rowCount(df: DataFrame): Long = {
    val meta = df.schema.head.metadata
    if (meta.contains(RecordPipeline.RowCountKey)) meta.getLong(RecordPipeline.RowCountKey)
    else df.count()
  }

  private def listDir(p: Path)(keep: Path => Boolean): Vector[Path] = {
    val stream = Files.list(p)
    try stream.iterator()
      .asInstanceOf[java.util.Iterator[Path]]
      .asScala
      .filter(keep)
      .toVector.sortBy(_.getFileName.toString)
    finally stream.close()
  }

  /** A persisted table is the ordered union of its immutable
    * generation subdirs (`gen-00000`, `gen-00001`, …) — each
    * invocation appends one generation and never rewrites earlier
    * ones, so at scale an append costs only its own rows. Later
    * generations may be wider (MNF expand); `unionByName` NULL-fills
    * like the reference's ALTER TABLE ADD COLUMN. Reads the loose
    * part files too for dirs written by the pre-generation layout.
    *
    * A `MANIFEST` file (one generation name per line, written by
    * atomic rename) names the LIVE generations once it exists; dirs
    * without one read every gen-* subdir (pre-manifest layout). The
    * manifest is what makes COMPACTION crash-safe: when the live set
    * exceeds [[CompactThreshold]], the writer merges it into one new
    * generation and cuts over by publishing a one-line manifest — a
    * crash at any point leaves either the old manifest (compacted gen
    * invisible, no duplicates) or the new one (old gens stale,
    * swept on the next write). Without compaction an N-append table
    * reads as an N-way union — the small-files/plan-size problem
    * LSM stores solve the same way. */
  private val ManifestName = "MANIFEST"
  private[graft] val CompactThreshold = 16

  private def allGenDirs(tdir: Path): Seq[Path] =
    listDir(tdir)(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("gen-"))

  /** Live generations: manifest-listed when a manifest exists, else
    * every gen-* dir. */
  private def liveGens(tdir: Path): Seq[Path] = {
    val all = allGenDirs(tdir)
    val mf = tdir.resolve(ManifestName)
    if (Files.exists(mf)) {
      val listed = Files.readString(mf).split("\n")
        .map(_.trim).filter(_.nonEmpty).toSet
      all.filter(p => listed.contains(p.getFileName.toString))
    } else all
  }

  private def writeManifest(tdir: Path, gens: Seq[String]): Unit = {
    val tmp = tdir.resolve(".tmp-MANIFEST")
    Files.writeString(tmp, gens.mkString("\n"))
    try Files.move(tmp, tdir.resolve(ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, tdir.resolve(ManifestName),
          StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def readPersisted(spark: SparkSession, tdir: Path): Option[DataFrame] = {
    val gens = liveGens(tdir)
    val legacy = listDir(tdir)(p =>
      !Files.isDirectory(p) && p.getFileName.toString.endsWith(".parquet"))
    val parts =
      (if (legacy.nonEmpty) Seq(spark.read.parquet(legacy.map(_.toString): _*)) else Nil) ++
        gens.map(g => spark.read.parquet(g.toString))
    // empty = a table dir whose only write crashed before the rename
    // below — treat as absent rather than failing every later run
    if (parts.isEmpty) None
    else Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The persisted tables of a `-dbfile` store (its `PATH.d/` dir) —
    * the ATTACH surface reads another invocation's store through
    * this. Returns (table name, lazy plan) per table; empty when no
    * store exists at the path. */
  private[cli] def readDbTables(spark: SparkSession, dbPath: String): Seq[(String, DataFrame)] = {
    val dir = Paths.get(dbPath + ".d")
    if (!Files.isDirectory(dir)) return Nil
    listDir(dir)(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
      .flatMap(sub => readPersisted(spark, sub).map(sub.getFileName.toString -> _))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Load all files, appending files that share a `table=` target with
    * continuing record numbers (reference: tests.tcl:213-223), and
    * register each table as a temp view. With `-dbfile PATH`, tables
    * persist as parquet under `PATH.d/` across invocations — loaded
    * tables append to the persisted ones and only THIS invocation's
    * rows are written back, as a new generation subdir (the Spark
    * analog of the reference's on-disk SQLite database,
    * README.md:146-150; tests.tcl:1398-1474). */
  def loadAll(spark: SparkSession, parsed: ParsedArgs): Seq[String] = {
    val dbDir: Option[Path] = parsed.global.dbfile match {
      case ":memory:" => None
      case p => Some(Paths.get(p + ".d"))
    }

    var tables = Vector.empty[(String, DataFrame)]
    var counts = Map.empty[String, Long]
    // This invocation's rows per table — the only thing persisted.
    var added = Map.empty[String, DataFrame]

    // Seed with tables persisted by previous invocations.
    for (dir <- dbDir if Files.isDirectory(dir)) {
      val persisted = listDir(dir)(p =>
        Files.isDirectory(p) && !p.getFileName.toString.startsWith("."))
      for (sub <- persisted; df <- readPersisted(spark, sub)) {
        val name = sub.getFileName.toString
        val countFile = dir.resolve(s"$name.count")
        val n =
          if (Files.exists(countFile)) Files.readString(countFile).trim.toLong
          else df.count()
        tables :+= (name -> df)
        counts += name -> n
      }
    }

    // Default table names restart at 'a' every invocation: the
    // reference indexes defaultTableNames by the size of its
    // per-process table dict (lib/classes/sqawk.tcl:139), so a file
    // loaded without table= in a second -dbfile run names itself 'a'
    // and collide-appends into the persisted 'a'.
    var loadedThisRun = Set.empty[String]

    for (spec <- parsed.files) {
      val tableIndex = loadedThisRun.size
      val name = spec.options.getOrElse("table", Options.defaultTableName(tableIndex))
      val df = readFile(spark, spec, parsed.global, tableIndex)
      val n = rowCount(df)
      loadedThisRun += name
      tables.indexWhere(_._1 == name) match {
        case -1 =>
          tables :+= (name -> df)
          counts += name -> n
          added += name -> df
        case i =>
          val (_, prev) = tables(i)
          // Offset from tracked counts — no aggregation job per file.
          val offset = counts.getOrElse(name, 0L)
          val renumbered = df.withColumn(df.columns.head, col(df.columns.head) + lit(offset))
            .toDF(prev.columns.take(df.columns.length) ++ df.columns.drop(prev.columns.length): _*)
          tables = tables.updated(i, name -> prev.unionByName(renumbered, allowMissingColumns = true))
          counts += name -> (offset + n)
          added += name -> added.get(name).fold(renumbered)(
            _.unionByName(renumbered, allowMissingColumns = true))
      }
    }

    // Persist this invocation's new rows as one fresh generation per
    // table; existing generations are immutable and never rewritten
    // (the `added` plans read only the input files, so writing a new
    // subdir cannot invalidate what they read).
    //
    // The whole persist section holds an OS file lock on `<db>.d/.lock`:
    // without it, two concurrent invocations appending to the same
    // -dbfile race on the manifest — the later writer's manifest would
    // omit the earlier writer's committed generation and the sweep
    // would DELETE it (silent data loss; pre-manifest the same race at
    // worst failed loudly on a rename collision). Same-host mutual
    // exclusion, like the reference's SQLite database-file lock.
    for (dir <- dbDir) {
      Files.createDirectories(dir)
      val lockCh = java.nio.channels.FileChannel.open(dir.resolve(".lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val dbLock = lockCh.lock()
      try {
      for ((name, df) <- added) {
        val tdir = dir.resolve(name)
        Files.createDirectories(tdir)
        val gen = listDir(tdir)(p => p.getFileName.toString.startsWith("gen-"))
          .map(_.getFileName.toString.stripPrefix("gen-").toInt)
          .maxOption.getOrElse(-1) + 1
        // Crash safety: write into a dot-prefixed temp dir (readers
        // skip dot entries), then atomically rename into place — a
        // failed or interrupted write can never surface as a visible
        // generation, and stale temp dirs are swept on the next run.
        listDir(tdir)(p => p.getFileName.toString.startsWith(".tmp-"))
          .foreach(deleteRecursively)
        val genName = f"gen-$gen%05d"
        // live set BEFORE this append (manifest-listed, or every
        // pre-existing gen dir for pre-manifest layouts)
        val liveBefore = liveGens(tdir).map(_.getFileName.toString)
        val tmp = tdir.resolve(s".tmp-$genName")
        df.write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, tdir.resolve(genName), StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: AtomicMoveNotSupportedException =>
            Files.move(tmp, tdir.resolve(genName))
        }
        val liveNow = liveBefore :+ genName
        writeManifest(tdir, liveNow)
        Files.writeString(dir.resolve(s"$name.count"), counts(name).toString)
        // Compaction: merge the live set into ONE new generation once
        // it exceeds the threshold, cut over via the manifest, then
        // sweep. See the layout scaladoc for the crash-safety windows.
        if (liveNow.size > CompactThreshold) {
          val merged = liveNow.map(g => spark.read.parquet(tdir.resolve(g).toString))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          val compName = f"gen-${gen + 1}%05d"
          val ctmp = tdir.resolve(s".tmp-$compName")
          merged.write.mode("overwrite").parquet(ctmp.toString)
          try Files.move(ctmp, tdir.resolve(compName), StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: AtomicMoveNotSupportedException =>
              Files.move(ctmp, tdir.resolve(compName))
          }
          writeManifest(tdir, Seq(compName))
        }
        // Sweep generations the manifest no longer lists (stale after
        // compaction, or orphaned by a crashed earlier write).
        val live = liveGens(tdir).map(_.getFileName.toString).toSet
        allGenDirs(tdir).filterNot(p => live.contains(p.getFileName.toString))
          .foreach(deleteRecursively)
      }
      // Re-read written tables so views read back from parquet (input
      // temp files like the stdin spool do not outlive the process).
      tables = tables.map { case (name, df) =>
        if (added.contains(name))
          name -> readPersisted(spark, dir.resolve(name)).getOrElse(df)
        else name -> df
      }
      } finally {
        dbLock.release()
        lockCh.close()
      }
    }

    tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    tables.map(_._1)
  }
}
