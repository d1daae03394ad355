package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, MetadataBuilder, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-shaping options shared by every scan format
  * (reference: lib/classes/sqawk.tcl:139-147 defaults,
  * lib/classes/table.tcl:30-78 schema rules). */
final case class TableOptions(
    table: String = "a",
    prefix: Option[String] = None,
    nf: Int = 10,
    mnf: String = "expand", // expand | crop | error
    header: Boolean = false,
    columns: Seq[String] = Nil,
    datatypes: Seq[String] = Nil, // SQLite decl types per field; default INTEGER
    f0: Boolean = true) {
  def prefixName: String = prefix.getOrElse(table)
}

/** Turns parsed records `(rawRecord, fields)` into the sqawk table
  * shape `[<p>nr, <p>nf, <p>0, <p>1..<p>N]`
  * (reference: lib/classes/table.tcl:59-149; SURVEY.md §1.2).
  *
  * Every reader parses its input in `mapPartitions` over an RDD of
  * text ([[lines]] reads a `Dataset[String]`'s rows straight off its
  * scan, with no encoder round trip) and hands the parsed records to
  * [[build]] or [[buildKv]]; these are the only two ways a table is
  * made.
  *
  * Scale design (this is the path EVERY scan takes, so it is sized for
  * 100 TB inputs):
  *  - exactly TWO passes over the input and nothing cached: one stats
  *    job collecting per-partition row counts, max field counts and
  *    the first record (header), then the table's own scan, which
  *    numbers rows with contiguous 1-based `anr` from the partition
  *    offsets (Spark's `zipWithIndex` scheme, with the max-nf
  *    aggregate and header `take(1)` piggybacked onto the stats job
  *    instead of running as extra jobs over a persisted copy);
  *  - the table is one relation over `InternalRow`s
  *    (`__nr`, `__a0`, `__fields`) that declares its partitioning
  *    ([[org.apache.spark.sql.GraftSqlShim.rowsRelation]]): a one-split
  *    input declares `SinglePartition`, so an aggregate, ORDER BY,
  *    DISTINCT or window over it runs as one stage with no Exchange;
  *    more splits declare unknown partitioning and plan as any RDD;
  *  - field values are canonicalized by [[Affinity.canonicalExpr]],
  *    one static kernel call per field — the whole projection stays
  *    inside whole-stage codegen (no per-value ScalaUDF);
  *  - the total row count rides along as column metadata on `<p>nr`
  *    so multi-file `table=` appends can renumber without running an
  *    aggregation job per appended file.
  */
object RecordPipeline {

  /** Metadata key carrying the table's row count on the nr column. */
  val RowCountKey = "graft.rowcount"

  /** The text of a `Dataset[String]` as an RDD, read off the rows of
    * its executed plan (`toRdd` reuses its row object; the String is
    * a copy). Runs no job by itself. */
  def lines(ds: Dataset[String]): RDD[String] =
    ds.toDF("value").select(col("value").cast(StringType)).queryExecution.toRdd
      .mapPartitions(_.map(r => if (r.isNullAt(0)) null else r.getUTF8String(0).toString))

  def build(
      spark: SparkSession,
      records: RDD[(String, Seq[String])],
      opts: TableOptions): DataFrame = {
    checkMnf(opts)

    // Pass 1 — per-partition stats: (pid, rows, maxNf, maxNf excluding
    // the partition's first record, first record's fields).
    val stats = records.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      var mxAll = 0
      var mxTail = 0
      var firstFields: Seq[String] = null
      it.foreach { case (_, fields) =>
        if (n == 0L) firstFields = fields
        else if (fields.length > mxTail) mxTail = fields.length
        if (fields.length > mxAll) mxAll = fields.length
        n += 1
      }
      Iterator.single((pid, n, mxAll, mxTail, Option(firstFields).map(_.toVector)))
    }.collect().sortBy(_._1)

    val firstNonEmpty = stats.indexWhere(_._2 > 0)

    // Header consumption: the FIRST parsed record supplies column
    // names and is not loaded (reference: lib/classes/sqawk.tcl:176-181).
    val headerNames: Seq[String] =
      if (opts.header && firstNonEmpty >= 0) stats(firstNonEmpty)._5.get else Nil

    // Global max field count over loaded records (header excluded).
    val maxNf =
      if (firstNonEmpty < 0) 0
      else stats.iterator.zipWithIndex.map { case (s, i) =>
        if (opts.header && i == firstNonEmpty) s._4 else s._3
      }.max

    val totalRows =
      stats.iterator.map(_._2).sum - (if (opts.header && firstNonEmpty >= 0) 1L else 0L)

    // Pass 2 — global 0-based input-order index from the partition
    // offsets (MNF resolution comes after numbering, like the
    // reference's load loop: table.tcl:102-132).
    val offsets = stats.scanLeft(0L)(_ + _._2).init
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val header = opts.header
    val rows = records.mapPartitionsWithIndex { (pid, it) =>
      var idx = bcOffsets.value(pid)
      tableRows(header, it.map { case (a0, fields) =>
        val cur = idx
        idx += 1
        (cur, a0, fields)
      })
    }
    shape(spark, rows, headerNames, maxNf, totalRows, opts)
  }

  /** Key-value records (JSON objects / Tcl dicts, S6-S7): the key
    * union — keys of the FIRST record in their own order, then the
    * remaining keys alphabetically — is folded into the SAME stats
    * pass that counts rows, so kv ingest parses the input exactly
    * twice like every other format (the r3 shape reparsed it ~4×:
    * separate first-record and key-distinct jobs). The synthesized
    * key record (reference: lib/parsers/json.tcl:76-93) is global
    * record 0, emitted at the head of partition 0 (so a one-split kv
    * input stays one partition), and doubles as the header when
    * `header=1`. Missing keys → "". */
  def buildKv(
      spark: SparkSession,
      parsed: RDD[Seq[(String, String)]],
      opts: TableOptions): DataFrame = {
    checkMnf(opts)
    // an input with no splits (an empty file) becomes one empty
    // partition, so the key record has a partition 0 to lead
    val dicts =
      if (parsed.getNumPartitions > 0) parsed
      else spark.sparkContext.parallelize(Seq.empty[Seq[(String, String)]], 1)

    // Pass 1 — per-partition stats: rows, first record's key order,
    // union of key sets (column names: small by construction).
    val stats = dicts.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      var firstKeys: Seq[String] = null
      val keySet = scala.collection.mutable.HashSet.empty[String]
      it.foreach { pairs =>
        if (n == 0L) firstKeys = pairs.map(_._1)
        pairs.foreach(keySet += _._1)
        n += 1
      }
      Iterator.single((pid, n, Option(firstKeys).map(_.toVector), keySet.toSet))
    }.collect().sortBy(_._1)

    val firstNonEmpty = stats.indexWhere(_._2 > 0)
    val firstKeys: Seq[String] =
      if (firstNonEmpty >= 0) stats(firstNonEmpty)._3.get else Nil
    val allKeys = stats.iterator.flatMap(_._4).toSet
    val keys = firstKeys ++ (allKeys -- firstKeys).toSeq.sorted

    val totalRows =
      stats.iterator.map(_._2).sum + (if (opts.header) 0L else 1L)

    // Pass 2 — align every record to the key order; the key record is
    // global index 0, so body offsets start at 1.
    val offsets = stats.scanLeft(1L)(_ + _._2).init
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val bcKeys = spark.sparkContext.broadcast(keys)
    val header = opts.header
    val rows = dicts.mapPartitionsWithIndex { (pid, it) =>
      val ks = bcKeys.value
      var idx = bcOffsets.value(pid)
      val body = it.map { pairs =>
        val m = pairs.toMap
        val cur = idx
        idx += 1
        (cur,
          graft.functions.TclList.join(pairs.flatMap(p => Seq(p._1, p._2))),
          ks.map(k => m.getOrElse(k, "")): Seq[String])
      }
      tableRows(header,
        if (pid == 0) Iterator.single((0L, graft.functions.TclList.join(ks), ks)) ++ body
        else body)
    }
    val headerNames = if (opts.header) keys else Nil
    shape(spark, rows, headerNames, keys.length, totalRows, opts)
  }

  private def checkMnf(opts: TableOptions): Unit =
    if (!Set("expand", "crop", "error").contains(opts.mnf))
      throw new IllegalArgumentException(s"invalid MNF value: ${opts.mnf}")


  /** Globally-indexed records → table rows: with `header=1` record 0
    * is the header and is not loaded, and the body numbers from 1;
    * otherwise `nr` is the index plus one. */
  private def tableRows(
      header: Boolean, it: Iterator[(Long, String, Seq[String])]): Iterator[InternalRow] =
    it.collect { case (cur, a0, fields) if !(header && cur == 0L) =>
      InternalRow(if (header) cur else cur + 1, UTF8String.fromString(a0),
        new GenericArrayData(fields.map(f => UTF8String.fromString(f): Any).toArray))
    }

  /** The ingest relation's layout: `(__nr, __a0, __fields)`. */
  private val RowSchema = StructType(Seq(
    StructField("__nr", LongType, nullable = false),
    StructField("__a0", StringType),
    StructField("__fields", ArrayType(StringType))))

  /** Shared table shaping from numbered rows: MNF resolution, naming,
    * affinity canonicalization. */
  private def shape(
      spark: SparkSession,
      rows: RDD[InternalRow],
      headerNames: Seq[String],
      maxNf: Int,
      totalRows: Long,
      opts: TableOptions): DataFrame = {
    if (opts.mnf == "error" && maxNf > opts.nf)
      throw new IllegalStateException(
        s"table ${opts.table} has no column for field $maxNf (NF=${opts.nf}, MNF=error)")

    val numFields = opts.mnf match {
      case "expand" => math.max(opts.nf, maxNf)
      case _ => opts.nf
    }

    val body = GraftSqlShim.rowsRelation(spark, RowSchema, rows)

    val cropped =
      if (opts.mnf == "crop") body.withColumn("__fields", slice(col("__fields"), 1, opts.nf))
      else body

    val p = opts.prefixName
    val fieldNames = (1 to numFields).map(i => fieldName(p, i, headerNames, opts.columns))
    fieldNames.foreach { n =>
      if (n.contains("`"))
        throw new IllegalArgumentException(s"column name $n contains a grave accent")
    }

    val fieldCols = (1 to numFields).map { i =>
      val declared = opts.datatypes.lift(i - 1).getOrElse("INTEGER")
      val affinity = Affinity.hasAffinity(declared)
      val raw = get(col("__fields"), lit(i - 1))
      val value = Affinity.canonicalExpr(raw, affinity)
      // Declared-type metadata feeds PRAGMA table_info (the reference
      // declares each field column with its datatypes= text,
      // lib/classes/table.tcl:60-66).
      val declMeta = new MetadataBuilder()
        .putString(Affinity.DeclKey, Affinity.declaredTypeText(declared))
      // Numeric-affinity columns are marked (attribute metadata for
      // Sort/min/max, AffinityValue wrapper for pushed-down
      // comparisons) so AffinityOrdering can give them SQLite's
      // cross-type semantics.
      if (affinity == "TEXT" || affinity == "BLOB") value.as(fieldNames(i - 1), declMeta.build())
      else call_function("graft_affinity_value", value, lit(affinity)).as(fieldNames(i - 1),
        declMeta.putString(graft.plans.AffinityOrdering.AffinityKey, affinity).build())
    }

    // `<prefix>nr INTEGER PRIMARY KEY` in the reference's DDL
    // (lib/classes/table.tcl:70) — the rowid alias, so script INSERTs
    // autoassign it and PRAGMA table_info reports pk=1.
    val nrMeta = new MetadataBuilder().putLong(RowCountKey, totalRows)
      .putString(Affinity.DeclKey, "INTEGER").putString(Affinity.PkKey, "rowid").build()
    val nfMeta = new MetadataBuilder().putString(Affinity.DeclKey, "INTEGER").build()
    val a0Meta = new MetadataBuilder().putString(Affinity.DeclKey, "TEXT").build()
    val base = Seq(
      col("__nr").as(s"${p}nr", nrMeta),
      size(col("__fields")).as(s"${p}nf", nfMeta)) ++
      (if (opts.f0) Seq(col("__a0").as(s"${p}0", a0Meta)) else Nil)

    cropped.select(base ++ fieldCols: _*)
  }

  /** Field column naming: `columns=` wins where non-empty, else the
    * header name, else the generated `<prefix>N`
    * (reference: lib/classes/sqawk.tcl:182-190; tests.tcl:261-327). */
  private def fieldName(
      prefix: String, i: Int, headerNames: Seq[String], columns: Seq[String]): String = {
    columns.lift(i - 1).filter(_.nonEmpty)
      .orElse(headerNames.lift(i - 1).filter(_.nonEmpty))
      .getOrElse(s"$prefix$i")
  }
}
