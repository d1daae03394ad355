package graft.sources

import org.apache.spark.sql.Row

import graft.SparkSpec

/** End-to-end reader specs over in-memory record streams, pinning the
  * fixture behaviors in FIXTURES.md (from the reference tests.tcl). */
class ReadersSpec extends SparkSpec {

  private def ds(lines: String*) = {
    import spark.implicits._
    spark.createDataset(lines)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.head).collect().toSeq.map(_.toSeq)

  test("awk defaults: anr/anf/a0/fields, NULL padding to NF") {
    val df = AwkReader.parse(spark, ds("foo 1", "foo 2", "foo 3"),
      AwkOptions(), TableOptions(nf = 3))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "a1", "a2", "a3"))
    assert(rows(df) == Seq(
      Seq(1L, 2, "foo 1", "foo", "1", null),
      Seq(2L, 2, "foo 2", "foo", "2", null),
      Seq(3L, 2, "foo 3", "foo", "3", null)))
  }

  test("awk custom FS and prefix/table naming") {
    val df = AwkReader.parse(spark, ds("a,b", "c,d", "e,f"),
      AwkOptions(fs = ","), TableOptions(table = "foo", prefix = Some("x"), nf = 2))
    assert(df.columns.toSeq == Seq("xnr", "xnf", "x0", "x1", "x2"))
    assert(rows(df).map(_.drop(2)) == Seq(
      Seq("a,b", "a", "b"), Seq("c,d", "c", "d"), Seq("e,f", "e", "f")))
  }

  test("awk header=1 consumes first record as column names") {
    val df = AwkReader.parse(spark,
      ds("name\tposition\toffice\tphone",
        "Smith\tCEO\t10\t555-1234",
        "James\tHead of marketing\t11\t555-1235",
        "McDonald\tDeveloper\t12\t555-1236\tGood at tables"),
      AwkOptions(fs = "\t"), TableOptions(table = "staff", nf = 4, header = true))
    assert(df.columns.toSeq ==
      Seq("staffnr", "staffnf", "staff0", "name", "position", "office", "phone", "staff5"))
    val r = df.orderBy("staffnr").collect()
    assert(r.length == 3)
    assert(r(0).getAs[Long]("staffnr") == 1L)
    assert(r(0).getAs[String]("name") == "Smith")
    assert(r(2).getAs[String]("staff5") == "Good at tables")
  }

  test("awk columns= positional override with empty fallback") {
    val df = AwkReader.parse(spark, ds("001 a", "002 b", "003 c"),
      AwkOptions(), TableOptions(nf = 2, columns = Seq("", "world")))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "a1", "world"))
  }

  test("awk F0=0 drops the raw-record column") {
    val df = AwkReader.parse(spark, ds("a b"), AwkOptions(), TableOptions(nf = 2, f0 = false))
    assert(df.columns.toSeq == Seq("anr", "anf", "a1", "a2"))
  }

  test("awk INTEGER affinity canonicalizes numeric strings") {
    val df = AwkReader.parse(spark, ds("001 a", "002 b", "c"),
      AwkOptions(), TableOptions(nf = 2))
    assert(rows(df).map(r => Seq(r(3), r(4))) == Seq(
      Seq("1", "a"), Seq("2", "b"), Seq("c", null)))
  }

  test("awk datatypes=real,text renders reals and keeps text") {
    val df = AwkReader.parse(spark, ds("001 a", "002 b", "c"),
      AwkOptions(), TableOptions(nf = 2, datatypes = Seq("real", "text")))
    assert(rows(df).map(r => Seq(r(3), r(4))) == Seq(
      Seq("1.0", "a"), Seq("2.0", "b"), Seq("c", null)))
  }

  test("awk datatypes=text,text keeps 001 verbatim") {
    val df = AwkReader.parse(spark, ds("001 a"),
      AwkOptions(), TableOptions(nf = 2, datatypes = Seq("text", "text")))
    assert(rows(df).map(r => r(3)) == Seq("001"))
  }

  test("awk datatypes=null gives BLOB affinity: 001 preserved") {
    // reference tests.tcl:1066-1106 datatypes-1.4; `a1 null` in SQLite DDL
    // is a constraint, not a type name → no-type column = BLOB affinity
    val df = AwkReader.parse(spark, ds("001 a"),
      AwkOptions(), TableOptions(nf = 2, datatypes = Seq("null", "blob")))
    assert(rows(df).map(r => r(3)) == Seq("001"))
  }

  test("INTEGER affinity losslessly integerizes real text: 2.0→2, 1e2→100") {
    // verified against sqlite3: INSERT '2.0'/'1e2' into INTEGER column
    assert(Affinity.canonicalize("2.0", "INTEGER") == "2")
    assert(Affinity.canonicalize("1e2", "NUMERIC") == "100")
    assert(Affinity.canonicalize("2.5", "INTEGER") == "2.5")
    assert(Affinity.canonicalize("9.3e18", "INTEGER") == "9.3e+18") // out of int64 → stays real
    assert(Affinity.canonicalize("1e15", "INTEGER") == "1000000000000000")
    assert(Affinity.canonicalize("3", "REAL") == "3.0")
  }

  test("a loaded table applies affinity as one kernel call per numeric column") {
    import org.apache.spark.sql.catalyst.expressions.{RLike, RegExpReplace}
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    // a2 is TEXT; the other nine fields are numeric-affinity columns
    AwkReader.parse(spark, ds("001 a 2.50 x"), AwkOptions(),
      TableOptions(nf = 10, datatypes = Seq("integer", "text", "real", "numeric")))
      .createOrReplaceTempView("a")
    try {
      val exprs = spark.sql("select * from a").queryExecution.optimizedPlan
        .flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(!exprs.exists(e => e.isInstanceOf[RLike] || e.isInstanceOf[RegExpReplace]))
      assert(exprs.count {
        case si: StaticInvoke => si.functionName == "canonical"
        case _ => false
      } == 9)
    } finally spark.catalog.dropTempView("a")
  }

  test("awk MNF=expand grows columns for all rows") {
    val df = AwkReader.parse(spark, ds("A B", "A B C", "A B C D"),
      AwkOptions(), TableOptions(nf = 2, mnf = "expand"))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "a1", "a2", "a3", "a4"))
    assert(rows(df).map(_(1)) == Seq(2, 3, 4))
    assert(rows(df).head.drop(3) == Seq("A", "B", null, null))
  }

  test("awk MNF=crop truncates fields and nf") {
    val df = AwkReader.parse(spark, ds("A B C D", "A B C", "A B"),
      AwkOptions(), TableOptions(nf = 2, mnf = "crop"))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "a1", "a2"))
    assert(rows(df).map(_(1)) == Seq(2, 2, 2))
  }

  test("awk MNF=error fails when a record exceeds NF") {
    intercept[IllegalStateException] {
      AwkReader.parse(spark, ds("A B C"), AwkOptions(), TableOptions(nf = 2, mnf = "error"))
        .collect()
    }
  }

  test("awk empty records produce nf=0 rows with NULL fields") {
    val df = AwkReader.parse(spark, ds("0-1", "", "a-b"),
      AwkOptions(fs = "-"), TableOptions(nf = 2))
    assert(rows(df) == Seq(
      Seq(1L, 2, "0-1", "0", "1"),
      Seq(2L, 0, "", null, null),
      Seq(3L, 2, "a-b", "a", "b")))
  }

  test("awk trim modes") {
    def a1(trim: String): Any =
      AwkReader.parse(spark, ds("   a  "), AwkOptions(trim = trim), TableOptions(nf = 2))
        .collect()(0).getAs[String]("a1")
    assert(a1("none") == "")
    assert(a1("left") == "a")
    assert(a1("both") == "a")
  }

  test("awk fields= merge keeps separators") {
    val df = AwkReader.parse(spark,
      ds("foo 1   foo 2   foo 3", "bar    4 bar    5 bar    6"),
      AwkOptions(fields = "1-2,3-4,5-6"), TableOptions(nf = 3))
    assert(rows(df).map(_.drop(3)) == Seq(
      Seq("foo 1", "foo 2", "foo 3"),
      Seq("bar    4", "bar    5", "bar    6")))
  }

  test("never-matching FS (-1 mode) keeps whole line as a1") {
    val df = AwkReader.parse(spark, ds("a b,"), AwkOptions(fs = "x^"), TableOptions(nf = 2))
    assert(rows(df) == Seq(Seq(1L, 1, "a b,", "a b,", null)))
  }

  test("csv quoted fields with embedded separator and unicode") {
    val df = CsvReader.parse(spark,
      ds("1,2,\"Hello, World!\"", "Αλαμπουρνέζικα,3,4", "5,6,7"),
      CsvOptions(), TableOptions(nf = 3))
    assert(rows(df).map(_.drop(3)) == Seq(
      Seq("1", "2", "Hello, World!"),
      Seq("Αλαμπουρνέζικα", "3", "4"),
      Seq("5", "6", "7")))
  }

  test("csv doubled quotes inside quoted field") {
    assert(CsvReader.splitLine("\"a\"\"b\",c", CsvOptions()) == Vector("a\"b", "c"))
  }

  test("csvalt with custom separator") {
    val df = CsvReader.parse(spark, ds("1;2;\"Hello; World!\""),
      CsvOptions(sep = ';', alt = true), TableOptions(nf = 3))
    assert(rows(df).map(_.drop(3)) == Seq(Seq("1", "2", "Hello; World!")))
  }

  test("json kv=0 array-of-arrays") {
    val df = JsonReader.parse(spark, ds("[1, 2, 3, 4, 5]", "[6, 7, 8, 9, 10]"),
      JsonOptions(kv = false), TableOptions(nf = 5))
    assert(rows(df).map(_.drop(3)) == Seq(
      Seq("1", "2", "3", "4", "5"), Seq("6", "7", "8", "9", "10")))
  }

  test("json kv=1 key union: first-object order then alphabetical, missing → empty") {
    val df = JsonReader.parse(spark,
      ds("""{"foo":1,"bar":2}""", """{"foo":3,"bar":4,"baz":5}"""),
      JsonOptions(kv = true), TableOptions(nf = 3, header = true))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "foo", "bar", "baz"))
    assert(rows(df).map(_.drop(3)) == Seq(
      Seq("1", "2", ""), Seq("3", "4", "5")))
  }

  test("tcl kv=0 list records") {
    val df = TclReader.parse(spark, ds("1 2 3   4   5", "6 7 8 9 10"),
      TclOptions(), TableOptions(nf = 5))
    assert(rows(df).map(_.drop(3)) == Seq(
      Seq("1", "2", "3", "4", "5"), Seq("6", "7", "8", "9", "10")))
  }

  test("tcl kv=1 dict records with key union") {
    val df = TclReader.parse(spark, ds("foo 1 bar 2", "foo 3 bar 4 baz 5"),
      TclOptions(kv = true), TableOptions(nf = 3, header = true))
    assert(df.columns.toSeq == Seq("anr", "anf", "a0", "foo", "bar", "baz"))
    assert(rows(df).map(_.drop(3)) == Seq(Seq("1", "2", ""), Seq("3", "4", "5")))
  }

  test("one split plans no Exchange; several splits number contiguously and keep it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-splits")
    def file(name: String, lines: Seq[String]): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
      f.toFile.deleteOnExit()
      f.toString
    }
    val awk = file("a.txt", "key val" +: (1 to 40).map(i => s"k${i % 5} $i"))
    val json = file("a.json", (1 to 30).map(i => s"""{"id": $i, "name": "n$i"}"""))
    def groupPlan(df: org.apache.spark.sql.DataFrame): String =
      df.groupBy(df.columns(3)).count().queryExecution.executedPlan.toString
    // read whole, each file is one split: the table is one partition
    // (the kv key record included) and an aggregate plans no Exchange
    for (df <- Seq(
        AwkReader.read(spark, Seq(awk), AwkOptions(), TableOptions(nf = 2)),
        JsonReader.read(spark, Seq(json), JsonOptions(kv = true, lines = true),
          TableOptions(nf = 2)))) {
      assert(df.rdd.getNumPartitions == 1)
      assert(!groupPlan(df).contains("Exchange"), groupPlan(df))
    }
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "64")
    val (awk0, awk1, json0, json1) =
      try (
        AwkReader.read(spark, Seq(awk), AwkOptions(), TableOptions(nf = 2)),
        AwkReader.read(spark, Seq(awk), AwkOptions(), TableOptions(nf = 2, header = true)),
        JsonReader.read(spark, Seq(json), JsonOptions(kv = true, lines = true),
          TableOptions(nf = 2)),
        JsonReader.read(spark, Seq(json), JsonOptions(kv = true, lines = true),
          TableOptions(nf = 2, header = true)))
      finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    for (df <- Seq(awk0, awk1, json0, json1)) {
      assert(df.rdd.getNumPartitions >= 3)
      assert(groupPlan(df).contains("Exchange"), groupPlan(df))
    }
    // awk: anr follows file order; header=1 names the columns from
    // the first line and numbers the body from 1
    assert(rows(awk0).map(r => (r(0), r(4))) ==
      ((1L, "val") +: (1 to 40).map(i => (i + 1L, i.toString))))
    assert(awk1.columns.toSeq == Seq("anr", "anf", "a0", "key", "val"))
    assert(rows(awk1).map(r => (r(0), r(4))) == (1 to 40).map(i => (i.toLong, i.toString)))
    // json kv: the key record is row 1; with header=1 it names the
    // columns and the body numbers from 1
    assert(rows(json0).map(r => (r(0), r(3), r(4))) ==
      ((1L, "id", "name") +: (1 to 30).map(i => (i + 1L, i.toString, s"n$i"))))
    assert(json1.columns.toSeq == Seq("anr", "anf", "a0", "id", "name"))
    assert(rows(json1).map(r => (r(0), r(3), r(4))) ==
      (1 to 30).map(i => (i.toLong, i.toString, s"n$i")))
  }
}
