package graft.cli

import java.io.StringWriter
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end CLI black-box tests mirroring the reference suite
  * (tests.tcl; fixture inventory in FIXTURES.md). Each case runs the
  * real pipeline — ingest, SQL, serializer — and compares exact
  * output text. */
class CliSpec extends SparkSpec {

  private def tempFile(content: String): String = {
    val f = Files.createTempFile("graft-cli", ".txt")
    Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  /** Run the CLI against in-process Spark, return (exitCode, stdout). */
  private def sqawk(args: String*): (Int, String) = {
    val out = new StringWriter
    val code = Main.run(args, spark, out)
    (code, out.toString)
  }

  test("fs-1.1: custom FS , (reference tests.tcl:110-118)") {
    val f = tempFile("a,b\nc,d\ne,f\n")
    assert(sqawk("-FS", ",", "select a1, a2 from a", f) == (0, "a b\nc d\ne f\n"))
  }

  test("fs-1.2: custom FS @") {
    val f = tempFile("a@b\nc@d\ne@f\n")
    assert(sqawk("-FS", "@", "select a1, a2 from a", f) == (0, "a b\nc d\ne f\n"))
  }

  test("fs-1.3: regex FS with alternation and alias (tests.tcl:130-138)") {
    val f = tempFile("Yama Yama|Yamasuki\n")
    val (c, o) = sqawk("-FS", "\\|", "select distinct a2 as thing from a", f)
    assert((c, o) == (0, "Yamasuki\n"))
  }

  test("multi-statement script concatenates result sets (tests.tcl:195-200)") {
    val f = tempFile("foo 1\nfoo 2\nfoo 3\n")
    val (c, o) = sqawk("select a2 from a; select count(*) from a", f)
    assert((c, o) == (0, "1\n2\n3\n3\n"))
  }

  test("table= and prefix= (tests.tcl:202-211)") {
    val f = tempFile("foo 1\nfoo 2\nfoo 3\n")
    val (c, o) = sqawk("select x1, x2 from foo", "table=foo", "prefix=x", f)
    assert((c, o) == (0, "foo 1\nfoo 2\nfoo 3\n"))
  }

  test("multiple files into one table append with continuing nr (tests.tcl:213-223)") {
    val f1 = tempFile("foo 1\nfoo 2\n")
    val f2 = tempFile("foo 3\nfoo 4\n")
    val (c, o) = sqawk("select anr, a2 from a order by anr", "table=a", f1, "table=a", f2)
    assert((c, o) == (0, "1 1\n2 2\n3 3\n4 4\n"))
  }

  test("header=1 with qualified names and string literal (tests.tcl:225-242)") {
    val f = tempFile(
      "name\tposition\toffice\tphone\n" +
      "Smith\tCEO\t10\t555-1234\n" +
      "James\tHead of marketing\t11\t555-1235\n" +
      "McDonald\tDeveloper\t12\t555-1236\tGood at tables\n")
    val (c, o) = sqawk("-FS", "\t",
      "select staff.phone from staff where staff.position = \"CEO\"",
      "table=staff", "prefix=a", "header=1", f)
    assert((c, o) == (0, "555-1234\n"))
  }

  test("columns= naming (tests.tcl:261-327)") {
    val f = tempFile("001 a\n002 b\n003 c\n")
    assert(sqawk("select hello, a2 from a", "columns=hello", f) == (0, "1 a\n2 b\n3 c\n"))
    assert(sqawk("select world from a", "columns=hello,world", f) == (0, "a\nb\nc\n"))
    assert(sqawk("select `hello world` from a", "columns=hello world", f) == (0, "1\n2\n3\n"))
  }

  test("-1 single-field mode, NULL prints empty (tests.tcl:140-148)") {
    val f = tempFile("a b,\n")
    assert(sqawk("-1", "select a1, a2 from a", f) == (0, "a b, \n"))
  }

  test("-OFS and -ORS with backslash escapes") {
    val f = tempFile("a b\nc d\n")
    assert(sqawk("-OFS", "_", "select a1, a2 from a", f) == (0, "a_b\nc_d\n"))
    assert(sqawk("-ORS", "#", "select a1 from a", f) == (0, "a#c#"))
  }

  test("csv output quotes only when needed (tests.tcl:780-796)") {
    val f = tempFile("a,b\n1,2\n")
    assert(sqawk("-1", "-output", "csv", "select a1 from a", f) == (0, "\"a,b\"\n\"1,2\"\n"))
  }

  test("json kv output (tests.tcl:898-910)") {
    val f = tempFile("a,b,c\nd,e,f\ng,h,i\n")
    val (c, o) = sqawk("-FS", ",", "-output", "json", "select a1,a2,a3 from a", f)
    assert((c, o) == (0,
      """[{"a1":"a","a2":"b","a3":"c"},{"a1":"d","a2":"e","a3":"f"},{"a1":"g","a2":"h","a3":"i"}]""" + "\n"))
  }

  test("json kv=0 output (tests.tcl:912-920)") {
    val f = tempFile("a,b,c\nd,e,f\n")
    val (c, o) = sqawk("-FS", ",", "-output", "json,kv=0", "select a1,a2,a3 from a", f)
    assert((c, o) == (0, """[["a","b","c"],["d","e","f"]]""" + "\n"))
  }

  test("tcl output (tests.tcl:798-833)") {
    val f = tempFile("1\t2\tHello, World!\t \n")
    val (c, o) = sqawk("-FS", "\t", "-output", "tcl", "select a1,a2,a3,a4 from a", f)
    assert((c, o) == (0, "{1 2 {Hello, World!} { }}\n"))
    val (c2, o2) = sqawk("-FS", "\t", "-output", "tcl,kv=1", "select a1,a2,a3,a4 from a", f)
    assert((c2, o2) == (0, "{a1 1 a2 2 a3 {Hello, World!} a4 { }}\n"))
  }

  test("table output (tests.tcl:834-861)") {
    val f = tempFile("a,b,c\nd,e,f\ng,h,i\n")
    val (c, o) = sqawk("-FS", ",", "-output", "table", "select a1,a2,a3 from a", f)
    assert((c, o) == (0,
      "┌─┬─┬─┐\n│a│b│c│\n├─┼─┼─┤\n│d│e│f│\n├─┼─┼─┤\n│g│h│i│\n└─┴─┴─┘\n"))
  }

  test("table output loFi style and margins (tests.tcl:862-897)") {
    val f = tempFile("a,b\nd,e\n")
    val (c, o) = sqawk("-FS", ",", "-output", "table,style=loFi,margins=1",
      "select a1,a2 from a", f)
    assert((c, o) == (0,
      "+---+---+\n| a | b |\n+---+---+\n| d | e |\n+---+---+\n"))
  }

  // Expected bytes generated by running the reference's own renderer
  // (lib/tabulate.tcl, sourced with -encoding utf-8) on the same rows:
  // CJK/fullwidth chars count 2 columns (lib/tabulate.tcl:364-367), so
  // col 0 is 10 wide (東京タワー) and 名前 centers with 3+3 padding.
  test("table output CJK double-width geometry (lib/tabulate.tcl:364-367)") {
    val f = tempFile("名前,値\n東京タワー,333\nx,1\n")
    val (c, o) = sqawk("-FS", ",", "-output", "table", "select a1,a2 from a", f)
    assert((c, o) == (0,
      "┌──────────┬───┐\n" +
      "│   名前   │値 │\n" +
      "├──────────┼───┤\n" +
      "│東京タワー│333│\n" +
      "├──────────┼───┤\n" +
      "│    x     │ 1 │\n" +
      "└──────────┴───┘\n"))
    val (c2, o2) = sqawk("-FS", ",",
      "-output", "table,style=loFi,margins=1,alignments=left right",
      "select a1,a2 from a", f)
    assert((c2, o2) == (0,
      "+------------+-----+\n" +
      "| 名前       |  値 |\n" +
      "+------------+-----+\n" +
      "| 東京タワー | 333 |\n" +
      "+------------+-----+\n" +
      "| x          |   1 |\n" +
      "+------------+-----+\n"))
  }

  test("empty lines and fields (tests.tcl:1002-1040)") {
    val f = tempFile("0-1\n\na-b\n\nc-d\n")
    assert(sqawk("-FS", "-", "select a1, a2 from a", f) ==
      (0, "0 1\n \na b\n \nc d\n"))
    val g = tempFile("\n\n\n\n")
    assert(sqawk("select a1 from a", g) == (0, "\n\n\n\n"))
  }

  test("affinity: integer canonicalization and datatypes (tests.tcl:1066-1106)") {
    val f = tempFile("001 a\n002 b\nc\n")
    assert(sqawk("select a1, a2 from a", f) == (0, "1 a\n2 b\nc \n"))
    assert(sqawk("select a1, a2 from a", "datatypes=real,text", f) == (0, "1.0 a\n2.0 b\nc \n"))
    assert(sqawk("select a1, a2 from a", "datatypes=text,text", f) == (0, "001 a\n002 b\nc \n"))
    // datatypes-1.4: declared `null` = BLOB affinity → 001 preserved
    assert(sqawk("select a1, a2 from a", "datatypes=null,blob", f) == (0, "001 a\n002 b\nc \n"))
    // lossless real-text → integer under INTEGER affinity (sqlite3-verified)
    val g = tempFile("2.0 x\n1e2 y\n2.5 z\n")
    assert(sqawk("select a1, a2 from a", g) == (0, "2 x\n100 y\n2.5 z\n"))
  }

  test("block comment /*/ does not close the comment it opens") {
    val stmts = ScriptRunner.splitStatements("select 1 /*/ ; */ ; select 2")
    assert(stmts.length == 2)
    assert(stmts.head.contains("select 1"))
    assert(stmts(1).trim == "select 2")
  }

  test("compat functions through SQL (tests.tcl:1108-1156)") {
    assert(sqawk("-noinput", "select lindex('{} {foo bar} baz', 1, 1) as r") == (0, "bar\n"))
    assert(sqawk("-noinput", "select regsub('-all', '[lz]', 'hello', '1') as r") == (0, "he11o\n"))
    assert(sqawk("-noinput", "select regexp('a', 'aaa') as r") == (0, "1\n"))
    assert(sqawk("-noinput", "select llength('0 o o g g l l e') as r") == (0, "8\n"))
    assert(sqawk("-noinput", "select lrange('0 o o g g l l e', 4, '5') as r") == (0, "g l\n"))
    assert(sqawk("-noinput",
      "select dict_get('k1 v1 k2 v2 k3 {nes ted}', 'k3', 'nes') as r") == (0, "ted\n"))
  }

  test("beyond-reference codegen kernels are script-callable") {
    val roll = graft.functions.RollingHashMin.minHash("abcdefghij".getBytes("UTF-8"))
    assert(sqawk("-noinput",
      "select graft_rollhash_min('abcdefghij') as r") == (0, s"$roll\n"))
    val (code, out) = sqawk("-noinput",
      "select graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) as r")
    assert(code == 0 && out.trim.toDouble == 11.0)
  }

  test("unaliased static calls are named as the SQL call in json keys") {
    val f = tempFile("a b\n")
    val (c, o) = sqawk("-output", "json", "select lindex(a0, 0), llength(a0), " +
      "graft_md5min8(a1), graft_rollhash_min(a0), regsub('b', a0, 'B') from a", f)
    assert((c, o) == (0, """[{"lindex(a0, 0)":"a","llength(a0)":"2",""" +
      """"graft_md5min8(a1)":"0cc175b9c0f1b6a831c399e269772661",""" +
      """"graft_rollhash_min(a0)":"94307","regsub(b, a0, B)":"a B"}]""" + "\n"))
    // string literals render bare, as in Spark's naming of its own calls
    assert(sqawk("-output", "json", "select sum(a2), lower('Q') from a", f) ==
      (0, """[{"sum(a2)":"0.0","lower(Q)":"q"}]""" + "\n"))
  }

  test("SQLite date/time functions (sqlite3-verified outputs)") {
    assert(sqawk("-noinput", "select date('2024-01-15 10:30:00') as r") == (0, "2024-01-15\n"))
    assert(sqawk("-noinput", "select datetime('2024-01-15') as r") == (0, "2024-01-15 00:00:00\n"))
    assert(sqawk("-noinput", "select datetime('2024-01-15 10:30:45.123') as r")
      == (0, "2024-01-15 10:30:45\n"))
    assert(sqawk("-noinput", "select time('2024-01-15 10:30:45') as r") == (0, "10:30:45\n"))
    assert(sqawk("-noinput", "select julianday('2024-01-15') as r") == (0, "2460324.5\n"))
    assert(sqawk("-noinput", "select julianday('2024-01-15 12:00:00') as r") == (0, "2460325.0\n"))
    assert(sqawk("-noinput", "select date(2460324.5) as r") == (0, "2024-01-15\n"))
    assert(sqawk("-noinput", "select datetime(2460325.0) as r") == (0, "2024-01-15 12:00:00\n"))
    assert(sqawk("-noinput",
      "select strftime('%Y/%m/%d %H:%M:%S', '2024-01-15 10:30:45') as r")
      == (0, "2024/01/15 10:30:45\n"))
    assert(sqawk("-noinput", "select strftime('%j %w %s', '2024-01-15 10:30:45') as r")
      == (0, "015 1 1705314645\n"))
    assert(sqawk("-noinput", "select date('not a date') as r") == (0, "\n"))
  }

  test("a julian day number with an exponent reads as the number (sqlite3-pinned)") {
    assert(sqawk("-noinput", "select date('2.4610005e6') as r, date('2461000.5') as s")
      == (0, "2025-11-21 2025-11-21\n"))
  }

  test("SQLite date/time modifiers (sqlite3-verified outputs)") {
    // calendar normalization, not clamping: Jan 31 + 1 month = Mar 2
    assert(sqawk("-noinput", "select date('2024-01-31','+1 month') as r") == (0, "2024-03-02\n"))
    assert(sqawk("-noinput", "select date('2024-01-31','+13 months') as r") == (0, "2025-03-03\n"))
    assert(sqawk("-noinput", "select date('2024-02-29','+1 year') as r") == (0, "2025-03-01\n"))
    assert(sqawk("-noinput", "select date('2024-01-31','-2 months') as r") == (0, "2023-12-01\n"))
    assert(sqawk("-noinput", "select datetime('2024-03-10 23:30:00','+90 minutes') as r")
      == (0, "2024-03-11 01:00:00\n"))
    assert(sqawk("-noinput", "select datetime('2024-01-01','+1.5 days') as r")
      == (0, "2024-01-02 12:00:00\n"))
    assert(sqawk("-noinput", "select time('12:00:00','+30 seconds') as r") == (0, "12:00:30\n"))
    assert(sqawk("-noinput", "select date('2024-03-15','start of month') as r")
      == (0, "2024-03-01\n"))
    assert(sqawk("-noinput", "select date('2024-03-15','start of year') as r")
      == (0, "2024-01-01\n"))
    assert(sqawk("-noinput", "select datetime('2024-03-15 12:34:56','start of day') as r")
      == (0, "2024-03-15 00:00:00\n"))
    // weekday 0 = next Sunday; no move when already on that weekday
    assert(sqawk("-noinput", "select date('2024-03-15','weekday 0') as r") == (0, "2024-03-17\n"))
    assert(sqawk("-noinput", "select date('2024-03-16','weekday 6') as r") == (0, "2024-03-16\n"))
    assert(sqawk("-noinput", "select datetime('86400','unixepoch') as r")
      == (0, "1970-01-02 00:00:00\n"))
    assert(sqawk("-noinput", "select datetime('1700000000','unixepoch','start of day') as r")
      == (0, "2023-11-14 00:00:00\n"))
    // modifiers chain left to right
    assert(sqawk("-noinput", "select date('2023-11-30','+2 months','-1 day') as r")
      == (0, "2024-01-29\n"))
    assert(sqawk("-noinput", "select datetime('2440587.5','+12 hours') as r")
      == (0, "1970-01-01 12:00:00\n"))
    assert(sqawk("-noinput", "select strftime('%Y/%m/%d','2024-03-15','+10 days') as r")
      == (0, "2024/03/25\n"))
    // invalid value or modifier → NULL → empty
    assert(sqawk("-noinput", "select date('junk','+1 day') as r") == (0, "\n"))
    assert(sqawk("-noinput", "select date('2024-01-15','bogus modifier') as r") == (0, "\n"))
    // out-of-range values overflow to NULL like sqlite3, never throw
    assert(sqawk("-noinput",
      "select datetime('99999999999999999999','unixepoch') as r") == (0, "\n"))
    assert(sqawk("-noinput",
      "select date('2024-01-01','+100000000000 years') as r") == (0, "\n"))
    // 'now' resolves to a plausible current date
    val (c, o) = sqawk("-noinput", "select date('now') as r")
    assert(c == 0 && o.trim.matches("20\\d{2}-\\d{2}-\\d{2}"))
    // unixepoch round trip via strftime
    assert(sqawk("-noinput", "select strftime('%s','2023-11-14','+0 days') as r")
      == (0, "1699920000\n"))
  }

  test("ORDER BY random() shuffles without losing rows (README.md:329-331)") {
    val f = tempFile("a 1\nb 2\nc 3\n")
    val (c, o) = sqawk("select a1 from a order by random()", f)
    assert(c == 0)
    assert(o.split("\n").sorted.toSeq == Seq("a", "b", "c"))
    // SQLite random() yields a signed int64
    val (c2, o2) = sqawk("-noinput", "select random() as r")
    assert(c2 == 0 && o2.trim.matches("-?[0-9]+"))
  }

  test("select literal without FROM (tests.tcl:1050-1056)") {
    assert(sqawk("-noinput", "select 108") == (0, "108\n"))
  }

  test("error: nonexistent file exits 1") {
    val (c, _) = sqawk("select 1", "/nonexistent/file/xyz")
    assert(c == 1)
  }

  test("error: MNF=error aborts on wide record (tests.tcl:1360-1396)") {
    val f = tempFile("A B C\n")
    val (c, _) = sqawk("-NF", "2", "-MNF", "error", "select a1 from a", f)
    assert(c == 1)
  }

  test("unknown per-file option for a format errors (sqawk-dev.tcl:168-177)") {
    val f = tempFile("x\n")
    val (c, _) = sqawk("select a1 from a", "csvsep=;", f) // awk format: csvsep invalid
    assert(c == 1)
  }

  private def withStdin[T](content: String)(body: => T): T = {
    val saved = System.in
    System.setIn(new java.io.ByteArrayInputStream(
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    try body finally System.setIn(saved)
  }

  test("stdin works for every input format (tests.tcl:719-768)") {
    withStdin("a b\nc d\n") {
      assert(sqawk("select a2 from a", "-") == (0, "b\nd\n"))
    }
    // default file spec: no filenames at all reads stdin
    withStdin("x y\n") {
      assert(sqawk("select a1 from a") == (0, "x\n"))
    }
    withStdin("[100]\n\n[101]\n") {
      assert(sqawk("-NF", "1", "select a1 from a",
        "format=json", "kv=0", "lines=1", "-") == (0, "100\n101\n"))
    }
    withStdin("k 100\nk 101\n") {
      assert(sqawk("-NF", "1", "select k from a",
        "format=tcl", "kv=1", "lines=1", "header=1", "-") == (0, "100\n101\n"))
    }
  }

  test("graft.staging.dir redirects the stdin spool (shared-FS deployments)") {
    val dir = Files.createTempDirectory("graft-staging")
    System.setProperty("graft.staging.dir", dir.toString)
    try withStdin("p q\n") {
      assert(sqawk("select a2 from a", "-") == (0, "q\n"))
      val stream = Files.list(dir)
      val spools =
        try stream.iterator().asScala
          .filter(_.getFileName.toString.startsWith("graft-stdin")).toVector
        finally stream.close()
      assert(spools.nonEmpty, s"spool file should land in $dir")
    } finally System.clearProperty("graft.staging.dir")
  }

  test("-dbfile persists tables across invocations (tests.tcl:1398-1474)") {
    val db = Files.createTempDirectory("graft-db").resolve("db").toString
    val f1 = tempFile("foo 1\nfoo 2\n")
    // run 1: load into table a, persisted under <db>.d/
    assert(sqawk("-dbfile", db, "select a2 from a", f1) == (0, "1\n2\n"))
    // run 2: no input at all — query the persisted table
    assert(sqawk("-dbfile", db, "-noinput", "select anr, a2 from a order by anr")
      == (0, "1 1\n2 2\n"))
    // run 3: append another file into the persisted table, nr continues
    val f2 = tempFile("foo 3\n")
    assert(sqawk("-dbfile", db, "select anr, a2 from a order by anr", "table=a", f2)
      == (0, "1 1\n2 2\n3 3\n"))
    // run 4: the append itself was persisted
    assert(sqawk("-dbfile", db, "-noinput", "select count(*) from a") == (0, "3\n"))
  }

  test("ATTACH/DETACH another -dbfile store (sqlite3-pinned semantics)") {
    val db = Files.createTempDirectory("graft-att").resolve("attdb").toString
    val f1 = tempFile("x 10\nx 20\n")
    // build the store to attach: table attsrc persisted under <db>.d/
    assert(sqawk("-dbfile", db, "select a2 from attsrc", "table=attsrc", "prefix=a", f1)
      == (0, "10\n20\n"))
    spark.catalog.dropTempView("attsrc")
    // qualified reads resolve through the attached schema, and
    // database_list reports the attachment
    assert(sqawk("-noinput",
      s"attach database '$db' as aux; select a2 from aux.attsrc order by a2 + 0; " +
        "pragma database_list")
      == (0, s"10\n20\n0 main \n1 aux $db\n"))
    spark.catalog.dropTempView("attsrc")
    // unqualified names resolve into attached schemas when main has
    // no such table (sqlite3's search order); the bare and qualified
    // spellings are ONE binding, so DML through one shows through the
    // other (sqlite3 semantics — in-memory for the run)
    assert(sqawk("-noinput",
      s"attach '$db' as aux; insert into attsrc (a1, a2) values ('x', '30'); " +
        "select count(*) from aux.attsrc; select a2 from main.attsrc where a2 = '30'")
      == (0, "3\n30\n"))
    spark.catalog.dropTempView("attsrc")
    // detach removes both the qualified and the bare binding
    assert(sqawk("-noinput",
      s"attach '$db' as aux; detach aux; select count(*) from aux.attsrc")._1 == 1)
    assert(sqawk("-noinput",
      s"attach '$db' as aux; detach database aux; select count(*) from attsrc")._1 == 1)
    // sqlite3-pinned error surface
    assert(sqawk("-noinput",
      s"attach '$db' as aux; attach '$db' as aux")._1 == 1) // already in use
    assert(sqawk("-noinput", "detach nope")._1 == 1) // no such database
    assert(sqawk("-noinput", "detach main")._1 == 1) // cannot detach main
    assert(sqawk("-noinput",
      s"begin; attach '$db' as aux")._1 == 1) // no ATTACH inside a txn
    // attaching a store that does not exist yet = an empty schema
    assert(sqawk("-noinput",
      "attach '/tmp/graft-no-such-store' as e2; pragma database_list")
      == (0, "0 main \n1 e2 /tmp/graft-no-such-store\n"))
  }

  test("a failed/no-op qualified reference never captures a later main table (ADVICE r9)") {
    val db = Files.createTempDirectory("graft-attp").resolve("pdb").toString
    // sqlite3-pinned: DROP TABLE IF EXISTS aux.x on an absent x is a
    // no-op that must NOT bind aux.x — a later CREATE TABLE x in main
    // leaves aux.x unresolvable ("no such table" in sqlite3)...
    assert(sqawk("-noinput",
      s"attach '$db' as aux1; drop table if exists aux1.x; " +
        "create table x(a); insert into x values (42); " +
        "select a from aux1.x")._1 == 1)
    spark.catalog.dropTempView("x")
    // ...and DETACH must not drop main's x (the eager binding used to
    // register x as aux1-owned, so DETACH destroyed main's table)
    assert(sqawk("-noinput",
      s"attach '$db' as aux1; drop table if exists aux1.x; " +
        "create table x(a); insert into x values (42); " +
        "detach aux1; select a from x") == (0, "42\n"))
    spark.catalog.dropTempView("x")
    // the round-9 behavior this refines stays: CREATE TABLE INTO the
    // attached schema binds, and the binding survives for later
    // qualified AND bare references
    assert(sqawk("-noinput",
      s"attach '$db' as aux1; create table aux1.y(a); " +
        "insert into aux1.y values (7); select a from y; detach aux1") == (0, "7\n"))
  }

  test("UPSERT against a view is rejected (sqlite3: cannot UPSERT a view)") {
    val (code, _) = sqawk("-noinput",
      "create table t(a integer primary key); " +
        "create view v as select * from t; " +
        "create trigger vi instead of insert on v begin " +
        "insert into t values (new.a); end; " +
        "insert into v values (1) on conflict do nothing")
    assert(code == 1)
    spark.catalog.dropTempView("t")
    spark.catalog.dropTempView("v")
  }

  test("-dbfile generations compact past the threshold; content survives") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    val db = F.createTempDirectory("graft-dbc").resolve("db").toString
    val n = GraftSession.CompactThreshold + 3
    for (i <- 1 to n) {
      val f = tempFile(s"row $i\n")
      assert(sqawk("-dbfile", db, "select a2 from a where anr = " + i, f)
        == (0, s"$i\n"))
    }
    // all rows survive the compaction cutover, in order
    assert(sqawk("-dbfile", db, "-noinput",
      "select count(*), min(anr), max(anr) from a") == (0, s"$n 1 $n\n"))
    // the live generation set was merged: far fewer gen dirs than
    // appends, and the MANIFEST names exactly the dirs on disk
    val tdir = Paths.get(db + ".d", "a")
    val gens = F.list(tdir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("gen-")).toSeq
    assert(gens.size <= GraftSession.CompactThreshold,
      s"expected compaction, found ${gens.size} generations")
    val manifest = F.readString(tdir.resolve("MANIFEST")).split("\n").toSet
    assert(gens.map(_.getFileName.toString).toSet === manifest)
  }

  test("-dbfile appends are incremental and default names restart at 'a'") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    val db = F.createTempDirectory("graft-db").resolve("db").toString
    val f1 = tempFile("foo 1\nfoo 2\n")
    assert(sqawk("-dbfile", db, "select a2 from a", f1) == (0, "1\n2\n"))
    val tdir = Paths.get(db + ".d", "a")
    def snapshot(): Map[String, Long] =
      F.walk(tdir).iterator().asScala
        .filter(F.isRegularFile(_))
        // MANIFEST is liveness metadata, rewritten on every append by
        // design; the immutability claim is about the DATA files
        .filterNot(_.getFileName.toString == "MANIFEST")
        .map(p => p.toString -> F.getLastModifiedTime(p).toMillis)
        .toMap
    val before = snapshot()
    assert(before.nonEmpty)
    // Append WITHOUT table=: per-invocation default naming restarts at
    // 'a' (reference: lib/classes/sqawk.tcl:139 indexes the per-process
    // table dict) and collide-appends into the persisted table.
    val f2 = tempFile("foo 3\n")
    assert(sqawk("-dbfile", db, "select anr, a2 from a order by anr", f2)
      == (0, "1 1\n2 2\n3 3\n"))
    // Incremental: every first-run file is still present with its
    // original mtime — the append only added a new generation dir.
    val after = snapshot()
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"first-run file rewritten: $p")
    }
    assert(after.size > before.size)
    val gens = F.list(tdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen-")).toVector.sorted
    assert(gens == Vector("gen-00000", "gen-00001"))
  }

  test("-dbfile survives a crashed generation write") {
    import java.nio.file.{Files => F, Paths}
    val db = F.createTempDirectory("graft-db").resolve("db").toString
    // simulate a table dir whose only write died mid-flight: a
    // dot-prefixed temp dir with partial output and no visible gen
    val crashed = Paths.get(db + ".d", "b", ".tmp-gen-00000")
    F.createDirectories(crashed)
    F.writeString(crashed.resolve("part-00000.parquet"), "torn write")
    // the dir must not brick later runs: 'b' is treated as absent,
    // loading works, and the stale temp dir is swept on next write
    val f = tempFile("foo 1\n")
    assert(sqawk("-dbfile", db, "select a2 from a", f) == (0, "1\n"))
    val f2 = tempFile("bar 2\n")
    assert(sqawk("-dbfile", db, "select b2 from b", "table=b", f2) == (0, "2\n"))
    assert(!F.exists(crashed), "stale temp dir must be swept by the next write")
    assert(sqawk("-dbfile", db, "-noinput", "select b2 from b") == (0, "2\n"))
  }

  test("key=value args are settings even when a file by that name exists (sqawk-dev.tcl:120-136)") {
    import java.nio.file.{Files => F, Paths}
    // The reference classifies by pattern only: a stray file named
    // `header=1` in cwd must not turn the setting into an input file.
    val stray = Paths.get("header=1")
    F.writeString(stray, "should never be read\n")
    try {
      val data = tempFile("name\nAlice\nBob\n")
      assert(sqawk("select name from a", "header=1", data) == (0, "Alice\nBob\n"))
    } finally F.deleteIfExists(stray)
  }

  test("CREATE TABLE AS SELECT binds a queryable table mid-script (README.md:100 dialect)") {
    val f = tempFile("foo 1\nfoo 2\nfoo 3\n")
    val (c, o) = sqawk(
      "create table big as select a2 from a where a2 > 1; select a2 from big order by a2",
      f)
    assert((c, o) == (0, "2\n3\n"))
  }

  test("CREATE TABLE + INSERT INTO VALUES/SELECT rebind the view") {
    val f = tempFile("foo 10\n")
    val (c, o) = sqawk(
      "create table kv (k, v); " +
        "insert into kv values ('x', 1), ('y', 2); " +
        "insert into kv (k) values ('z'); " +
        "insert into kv select a1, a2 from a; " +
        "select k, v from kv order by k",
      f)
    assert((c, o) == (0, "foo 10\nx 1\ny 2\nz \n"))
    // unknown target column errors like sqlite3 instead of silently
    // inserting an all-NULL row
    val (c2, _) = sqawk(
      "create table kv2 (k, v); insert into kv2 (nosuch) values (5); select 1", f)
    assert(c2 == 1)
  }

  test("DROP TABLE removes the view; IF EXISTS tolerates absence") {
    val f = tempFile("foo 1\n")
    val (c, o) = sqawk(
      "create table tmpt as select * from a; drop table tmpt; " +
        "drop table if exists tmpt; select a2 from a",
      f)
    assert((c, o) == (0, "1\n"))
    // dropping a missing table without IF EXISTS errors
    val (c2, _) = sqawk("drop table never_there", f)
    assert(c2 == 1)
  }

  test("UPDATE evaluates assignments against the OLD row (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: update ut set a=a+100, b=a+1 where a>=3 → 1|10 2|20 103|4 104|5
    // (`b = a+1` sees the pre-update a; the a=4,b=NULL row matches too)
    val (c, o) = sqawk(
      "create table ut (a, b); " +
        "insert into ut values (1, 10), (2, 20), (3, 30), (4, null); " +
        "update ut set a = a + 100, b = a + 1 where a >= 3; " +
        "select a, b from ut order by a",
      f)
    assert((c, o) == (0, "1 10\n2 20\n103 4\n104 5\n"))
    // rightmost duplicate assignment wins (sqlite3: set a=100, a=200 → 200)
    val (c2, o2) = sqawk(
      "create table ut2 (a, b); insert into ut2 values (1, 10); " +
        "update ut2 set a = 100, a = 200; select a, b from ut2",
      f)
    assert((c2, o2) == (0, "200 10\n"))
  }

  test("DELETE keeps NULL-condition rows; bare DELETE empties (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: delete from dt where b > 15 keeps (1,10) AND (2,NULL)
    val (c, o) = sqawk(
      "create table dt (a, b); " +
        "insert into dt values (1, 10), (2, null), (3, 30); " +
        "delete from dt where b > 15; " +
        "select a, b from dt order by a",
      f)
    assert((c, o) == (0, "1 10\n2 \n"))
    val (c2, o2) = sqawk(
      "create table dt2 (a); insert into dt2 values (1), (2); " +
        "delete from dt2; select count(*) from dt2",
      f)
    assert((c2, o2) == (0, "0\n"))
  }

  test("UPDATE/DELETE work on ingested tables mid-script (sqlite3-pinned)") {
    val f = tempFile("foo 1\nbar 2\nfoo 3\n")
    assert(sqawk("update a set a2 = a2 * 10 where a1 = 'foo'; select a1, a2 from a order by anr", f)
      == (0, "foo 10\nbar 2\nfoo 30\n"))
    assert(sqawk("delete from a where a2 >= 2; select a1, a2 from a", f)
      == (0, "foo 1\n"))
    // a 'where' string literal in an assignment must not split the clause
    val (c3, o3) = sqawk(
      "update a set a1 = 'where' where a2 = 2; select a1, a2 from a order by anr", f)
    assert((c3, o3) == (0, "foo 1\nwhere 2\nfoo 3\n"))
    // unknown column / unknown table error like sqlite3
    assert(sqawk("update a set nosuch = 1", f)._1 == 1)
    assert(sqawk("delete from never_there", f)._1 == 1)
  }

  test("RETURNING on INSERT/UPDATE/DELETE emits rows (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3 3.51: 1|20 2|40 / 1|11 / 2|20 / final|1|11
    val (c, o) = sqawk(
      "create table rt (a, b); " +
        "insert into rt values (1, 10), (2, 20) returning a, b*2; " +
        "update rt set b = b + 1 where a = 1 returning a, b; " +
        "delete from rt where a = 2 returning *; " +
        "select 'final', a, b from rt",
      f)
    assert((c, o) == (0, "1 20\n2 40\n1 11\n2 20\nfinal 1 11\n"))
  }

  test("RETURNING reports autoassigned keys; rowid maps to the alias (sqlite3-pinned)") {
    val f = tempFile("x\n")
    val (c, o) = sqawk(
      "create table rk (k integer primary key, v); " +
        "insert into rk (v) values ('a'), ('b') returning k, v; " +
        "insert into rk values (100, 'c') returning rowid, v",
      f)
    assert((c, o) == (0, "1 a\n2 b\n100 c\n"))
  }

  test("UPSERT: DO UPDATE sees stored row bare and proposed row as excluded (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: 1|A|6  2|b|5  3|c|7
    val (c, o) = sqawk(
      "create table up1 (k integer primary key, v, n integer default 0); " +
        "insert into up1 values (1, 'a', 5), (2, 'b', 5); " +
        "insert into up1 values (1, 'A', 9) on conflict (k) do update set v = excluded.v, n = n + 1; " +
        "insert into up1 values (2, 'B', 9) on conflict (k) do nothing; " +
        "insert into up1 values (3, 'c', 7) on conflict (k) do update set v = 'never'; " +
        "select k, v, n from up1 order by k",
      f)
    assert((c, o) == (0, "1 A 6\n2 b 5\n3 c 7\n"))
  }

  test("UPSERT applies in-batch duplicate keys row-at-a-time (sqlite3-pinned 'axy')") {
    val f = tempFile("x\n")
    val (c, o) = sqawk(
      "create table up2 (k integer primary key, v); " +
        "insert into up2 values (1, 'a'); " +
        "insert into up2 values (1, 'x'), (1, 'y') on conflict do update set v = v || excluded.v; " +
        "select k, v from up2",
      f)
    assert((c, o) == (0, "1 axy\n"))
  }

  test("UPSERT conflict WHERE gates the update; upsert may reassign the pk (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // unmatched conflict WHERE: stored row unchanged, proposed row discarded
    assert(sqawk(
      "create table up3 (k integer primary key, v); " +
        "insert into up3 values (1, 'a'), (2, 'b'); " +
        "insert into up3 values (1, 'X') on conflict (k) do update set v = excluded.v where up3.v = 'zzz'; " +
        "select k, v from up3 order by k",
      f) == (0, "1 a\n2 b\n"))
    // sqlite3: do update set k = 99 moves the key
    assert(sqawk(
      "create table up4 (k integer primary key, v); " +
        "insert into up4 values (1, 'a'); " +
        "insert into up4 values (1, 'b') on conflict do update set k = 99; " +
        "select k, v from up4 order by k",
      f) == (0, "99 a\n"))
  }

  test("UPSERT + RETURNING reports the updated row (sqlite3-pinned)") {
    val f = tempFile("x\n")
    val (c, o) = sqawk(
      "create table up5 (k text primary key, v); " +
        "insert into up5 values ('a', 1), ('b', 2); " +
        "insert into up5 values ('a', 9) on conflict do update set v = excluded.v returning k, v; " +
        "select '-', k, v from up5 order by k",
      f)
    assert((c, o) == (0, "a 9\n- a 9\n- b 2\n"))
  }

  test("UPSERT error surface matches sqlite3") {
    val f = tempFile("x\n")
    // conflict target must name the pk
    assert(sqawk(
      "create table ue1 (k integer primary key, v); " +
        "insert into ue1 values (1,'a') on conflict (v) do nothing", f)._1 == 1)
    // a table with no pk has no uniqueness constraint to target
    assert(sqawk(
      "create table ue2 (k, v); " +
        "insert into ue2 values (1,'a') on conflict (k) do nothing", f)._1 == 1)
    // NOT NULL is checked on the PROPOSED row even when the pk
    // conflict would have been resolved by DO NOTHING (sqlite3-pinned)
    assert(sqawk(
      "create table ue3 (k integer primary key, v not null); " +
        "insert into ue3 values (5, 'x'); " +
        "insert into ue3 values (5, null) on conflict do nothing", f)._1 == 1)
  }

  test("OR IGNORE skips NOT NULL rows; OR REPLACE fills the DEFAULT (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: (2,null) is silently dropped
    assert(sqawk(
      "create table nn1 (k integer primary key, v not null default 9); " +
        "insert or ignore into nn1 values (1,'a'),(2,null),(3,'c'); " +
        "select k, v from nn1 order by k",
      f) == (0, "1 a\n3 c\n"))
    // sqlite3: REPLACE substitutes the DEFAULT for the NULL
    assert(sqawk(
      "create table nn2 (k integer primary key, v not null default 9); " +
        "insert or replace into nn2 values (1, null); select k, v from nn2",
      f) == (0, "1 9\n"))
    // without a DEFAULT, REPLACE aborts like plain INSERT
    assert(sqawk(
      "create table nn3 (k integer primary key, v not null); " +
        "insert or replace into nn3 values (1, null)", f)._1 == 1)
  }

  test("RETURNING under OR REPLACE/OR IGNORE reports per-row outcomes (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // REPLACE: every proposed row inserts (a later in-batch duplicate
    // displaces the earlier), so both rows return
    assert(sqawk(
      "create table rr1 (k integer primary key, v); " +
        "insert into rr1 values (1, 'a'); " +
        "insert or replace into rr1 values (1,'x'),(1,'y') returning k, v; " +
        "select '-', k, v from rr1",
      f) == (0, "1 x\n1 y\n- 1 y\n"))
    // IGNORE: only actually-inserted rows return — (1,'x') conflicts
    // with storage, (2,'z') with the first batch occurrence
    assert(sqawk(
      "create table rr2 (k integer primary key, v); " +
        "insert into rr2 values (1, 'a'); " +
        "insert or ignore into rr2 values (1,'x'),(2,'y'),(2,'z') returning k, v",
      f) == (0, "2 y\n"))
  }

  test("CREATE/DROP INDEX are no-ops; CREATE TRIGGER accepted (round 7)") {
    val f = tempFile("foo 1\nbar 2\n")
    // sqlite3 runs the same script with identical output — the index
    // only changes its access path, which Catalyst handles declaratively
    assert(sqawk("create index idx on a (a1); select a1 from a where a1 = 'bar'; " +
      "drop index idx", f) == (0, "bar\n"))
    // round 7: CREATE TRIGGER is now SUPPORTED (sqlite3 accepts the
    // same statement) — the acceptance itself is the pin here; the
    // full firing matrix lives in the dedicated trigger tests below
    assert(sqawk("create trigger tr after insert on a begin select 1; end;" +
      " select a1 from a where a2 = '2'", f) == (0, "bar\n"))
  }

  test("CREATE UNIQUE INDEX enforces uniqueness (sqlite3-pinned)") {
    // creation over existing duplicates fails (UNIQUE constraint
    // failed: t.a); distinct rows pass
    assert(sqawk("-noinput", "create table u1 (a, b); " +
      "insert into u1 values (1,1),(1,2); create unique index iu on u1(a)")._1 == 1)
    spark.catalog.dropTempView("u1")
    // plain INSERT conflict errors, message keyset = the index columns
    assert(sqawk("-noinput", "create table u2 (a, b); " +
      "create unique index iu on u2(a, b); insert into u2 values (1,1); " +
      "insert into u2 values (1,1)")._1 == 1)
    spark.catalog.dropTempView("u2")
    // NULL keys never conflict (SQLite treats index NULLs as distinct)
    assert(sqawk("-noinput", "create table u3 (a, b); " +
      "create unique index iu on u3(a); insert into u3 values (NULL,1); " +
      "insert into u3 values (NULL,2); select count(*) from u3") == (0, "2\n"))
    spark.catalog.dropTempView("u3")
    // REPLACE displaces the conflicting stored row on EVERY unique
    // index: (1,2) evicts (1,1) via ia AND (2,2) via ib
    assert(sqawk("-noinput", "create table u4 (a, b); " +
      "create unique index ia on u4(a); create unique index ib on u4(b); " +
      "insert into u4 values (1,1),(2,2); replace into u4 values (1,2); " +
      "select * from u4") == (0, "1 2\n"))
    spark.catalog.dropTempView("u4")
    // OR IGNORE is row-at-a-time: (2,1) skips on b=1, so its a=2 never
    // enters the index and (2,3) still inserts
    assert(sqawk("-noinput", "create table u5 (a, b); " +
      "create unique index ia on u5(a); create unique index ib on u5(b); " +
      "insert or ignore into u5 values (1,1),(2,1),(2,3); " +
      "select * from u5") == (0, "1 1\n2 3\n"))
    spark.catalog.dropTempView("u5")
    // UPDATE into a duplicate final state errors
    assert(sqawk("-noinput", "create table u6 (a, b); " +
      "create unique index ia on u6(a); insert into u6 values (1,1),(2,2); " +
      "update u6 set a = 1 where b = 2")._1 == 1)
    spark.catalog.dropTempView("u6")
    // UPSERT may target a unique index's keyset; assignments see the
    // stored row bare and the proposed row as excluded.*
    assert(sqawk("-noinput", "create table u7 (a, b); " +
      "create unique index ia on u7(a); insert into u7 values (1,5); " +
      "insert into u7 values (1,9) on conflict(a) do update set b = excluded.b + b; " +
      "select * from u7") == (0, "1 14\n"))
    spark.catalog.dropTempView("u7")
    // DROP INDEX lifts the constraint
    assert(sqawk("-noinput", "create table u8 (a); " +
      "create unique index ia on u8(a); drop index ia; " +
      "insert into u8 values (1),(1); select count(*) from u8") == (0, "2\n"))
    spark.catalog.dropTempView("u8")
    // an index created inside a rolled-back transaction loses its
    // constraint (the registry is part of the binding snapshot)
    assert(sqawk("-noinput", "create table u9 (a); begin; " +
      "create unique index ia on u9(a); rollback; " +
      "insert into u9 values (1),(1); select count(*) from u9") == (0, "2\n"))
    spark.catalog.dropTempView("u9")
  }

  test("UNIQUE column/table constraints and index DDL edges (sqlite3-pinned)") {
    // a UNIQUE column constraint enforces like an index and registers
    // as sqlite_autoindex_* with origin u
    assert(sqawk("-noinput", "create table v1 (a unique, b); " +
      "insert into v1 values (1,1); insert into v1 values (1,2)")._1 == 1)
    spark.catalog.dropTempView("v1")
    // sqlite3 lists indexes most-recent-first
    assert(sqawk("-noinput", "create table v2 (a unique, b, unique (b, a)); " +
      "pragma index_list(v2)") ==
      (0, "0 sqlite_autoindex_v2_2 1 u 0\n1 sqlite_autoindex_v2_1 1 u 0\n"))
    spark.catalog.dropTempView("v2")
    // index_list reports the unique flag for CREATE UNIQUE INDEX
    assert(sqawk("-noinput", "create table v3 (a); " +
      "create unique index ia on v3(a); pragma index_list(v3)") ==
      (0, "0 ia 1 c 0\n"))
    spark.catalog.dropTempView("v3")
    // RENAME COLUMN carries the index keyset to the new name
    assert(sqawk("-noinput", "create table v4 (a, b); " +
      "create unique index ia on v4(a); alter table v4 rename column a to z; " +
      "insert into v4 values (1,1); insert into v4 values (1,2)")._1 == 1)
    spark.catalog.dropTempView("v4")
    // dropping an indexed column refuses, like sqlite3
    assert(sqawk("-noinput", "create table v5 (a, b); " +
      "create unique index ia on v5(a); alter table v5 drop column a")._1 == 1)
    spark.catalog.dropTempView("v5")
    // CREATE INDEX validates plain column lists
    assert(sqawk("-noinput", "create table v6 (a); " +
      "create unique index ia on v6(nope)")._1 == 1)
    spark.catalog.dropTempView("v6")
    // round 7: expression / partial UNIQUE indexes ENFORCE through
    // evaluated keysets (sqlite3-pinned: duplicate a+1 keys error
    // "UNIQUE constraint failed: index 'ia'")
    assert(sqawk("-noinput", "create table v7 (a, b); " +
      "create unique index ia on v7(a + 1); " +
      "insert into v7 values (1, 10); insert into v7 values (1, 20)")._1 == 1)
    spark.catalog.dropTempView("v7")
    // a partial index's WHERE exempts non-covered rows (three rows
    // insert: only ONE has b > 0), while covered duplicates error
    assert(sqawk("-noinput", "create table v7b (a, b); " +
      "create unique index ib on v7b(a) where b > 0; " +
      "insert into v7b values (1, 0); insert into v7b values (1, -1); " +
      "insert into v7b values (1, 5); select count(*) from v7b") == (0, "3\n"))
    spark.catalog.dropTempView("v7b")
    assert(sqawk("-noinput", "create table v7c (a, b); " +
      "create unique index ic on v7c(a) where b > 0; " +
      "insert into v7c values (1, 5); insert into v7c values (1, 6)")._1 == 1)
    spark.catalog.dropTempView("v7c")
    // no-target DO NOTHING spans every uniqueness constraint
    assert(sqawk("-noinput", "create table v8 (k integer primary key, a); " +
      "create unique index ia on v8(a); insert into v8 values (1,'x'),(2,'y'); " +
      "insert into v8 values (3,'x') on conflict do nothing; " +
      "select count(*) from v8") == (0, "2\n"))
    spark.catalog.dropTempView("v8")
    // an upsert only absorbs conflicts on ITS target keyset — a fresh
    // insert violating a different constraint still errors
    assert(sqawk("-noinput", "create table v9 (k integer primary key, a); " +
      "create unique index ia on v9(a); insert into v9 values (1,'x'); " +
      "insert into v9 values (2,'x') on conflict(k) do nothing")._1 == 1)
    spark.catalog.dropTempView("v9")
  }

  test("transaction control: no-ops with sqlite3's error surface") {
    val f = tempFile("x\n")
    // COMMIT/RELEASE discard their captures — changes stay applied;
    // sqlite3 runs this script with the same output
    assert(sqawk(
      "create table tx (k); begin; insert into tx values (1); commit; " +
        "savepoint SP1; insert into tx values (2); release sp1; " + // case-insensitive
        "begin transaction; insert into tx values (3); end; " +
        "vacuum; analyze; reindex; " +
        "select count(*) from tx", f) == (0, "3\n"))
    spark.catalog.dropTempView("tx")
    // sqlite3-pinned error surface
    assert(sqawk("begin; begin", f)._1 == 1) // cannot start a transaction within a transaction
    assert(sqawk("savepoint s; begin", f)._1 == 1) // a savepoint starts a transaction too
    assert(sqawk("commit", f)._1 == 1) // cannot commit - no transaction is active
    assert(sqawk("rollback", f)._1 == 1) // cannot rollback - no transaction is active
    assert(sqawk("release nope", f)._1 == 1) // no such savepoint: nope
    assert(sqawk("savepoint s; release s; release s", f)._1 == 1) // released = gone
    // releasing the outermost savepoint commits, so BEGIN works after
    assert(sqawk("savepoint s; release s; begin; select 1", f) == (0, "1\n"))
  }

  test("PRAGMA table_info/database_list/index_list/settings (sqlite3-pinned)") {
    val f = tempFile("foo 1\nbar 2\n")
    // the reference's ingest DDL (lib/classes/table.tcl:69-72) is
    // `anr INTEGER PRIMARY KEY, anf INTEGER, a0 TEXT, a1..aMNF
    // INTEGER` (maxnf default 10); sqlite3 reports exactly these
    // table_info rows for it
    val aFields = (1 to 10).map(i => s"${i + 2} a$i INTEGER 0  0\n").mkString
    assert(sqawk("pragma table_info(a)", f) ==
      (0, "0 anr INTEGER 0  1\n1 anf INTEGER 0  0\n2 a0 TEXT 0  0\n" + aFields))
    // datatypes= flows into the declared types, like the reference DDL
    val aTail = (3 to 10).map(i => s"${i + 2} a$i INTEGER 0  0\n").mkString
    assert(sqawk("pragma table_info(a)", "datatypes=TEXT,REAL", f) ==
      (0, "0 anr INTEGER 0  1\n1 anf INTEGER 0  0\n2 a0 TEXT 0  0\n" +
        "3 a1 TEXT 0  0\n4 a2 REAL 0  0\n" + aTail))
    // script tables: canonical type keywords uppercase (int→INT,
    // TeXt→TEXT), others verbatim (foo); DEFAULT text shows as
    // written; NOT NULL reports; the rowid alias reports pk=1
    assert(sqawk(
      "create table ty (k INTEGER PRIMARY KEY, a int, b TeXt, c foo, " +
        "d REAL DEFAULT 3.5, e TEXT DEFAULT 'leg''acy' NOT NULL); " +
        "pragma table_info(ty)", f) ==
      (0, "0 k INTEGER 0  1\n1 a INT 0  0\n2 b TEXT 0  0\n3 c foo 0  0\n" +
        "4 d REAL 0 3.5 0\n5 e TEXT 1 'leg''acy' 0\n"))
    // CTAS columns have no declared type; view columns inherit the
    // base declared type, show BLOB over typeless base columns and ""
    // for expressions, and never report pk/notnull/dflt
    assert(sqawk("create table ct as select 1 as x; pragma table_info(ct)", f) ==
      (0, "0 x  0  0\n"))
    assert(sqawk("create view vv as select x, x + 1 as kk from ct; " +
      "pragma table_info(vv)", f) == (0, "0 x BLOB 0  0\n1 kk  0  0\n"))
    assert(sqawk("create view vt as select k, e from ty; pragma table_info(vt)", f) ==
      (0, "0 k INTEGER 0  0\n1 e TEXT 0  0\n"))
    for (v <- Seq("vv", "vt", "ct", "ty")) spark.catalog.dropTempView(v)
    // unknown table: no rows, no error (sqlite3-pinned)
    assert(sqawk("pragma table_info(nosuch)", f) == (0, ""))
    // database_list: seq 0, main, no file for the in-memory default
    assert(sqawk("pragma database_list", f) == (0, "0 main \n"))
    // index_list sees this run's CREATE INDEX registry
    assert(sqawk("create index i1 on a (a1); pragma index_list(a)", f) ==
      (0, "0 i1 0 c 0\n"))
    assert(sqawk("create index i1 on a (a1); drop index i1; pragma index_list(a)", f) ==
      (0, ""))
    assert(sqawk("drop index nosuch", f)._1 == 1) // no such index: nosuch
    // settings pragmas answer like an in-memory sqlite3: journal_mode
    // is "memory" even when assigned; user_version is read/write;
    // unknown pragmas are silent
    assert(sqawk("pragma journal_mode", f) == (0, "memory\n"))
    assert(sqawk("pragma journal_mode=wal", f) == (0, "memory\n"))
    assert(sqawk("pragma synchronous", f) == (0, "2\n"))
    assert(sqawk("pragma foreign_keys", f) == (0, "0\n"))
    assert(sqawk("pragma user_version; pragma user_version = 7; pragma user_version", f) ==
      (0, "0\n7\n"))
    assert(sqawk("pragma nosuchpragma; pragma cache_size = 100", f) == (0, ""))
  }

  test("INTEGER PRIMARY KEY: autoassign, REPLACE, OR IGNORE (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // the full pinned sqlite3 session: NULL/omitted keys autoassign
    // with running-max semantics, REPLACE displaces in place, OR
    // IGNORE skips dups, out-of-order keys list in key order (SQLite
    // scans rowid tables in rowid order)
    assert(sqawk(
      "create table t (k INTEGER PRIMARY KEY, v TEXT); " +
        "insert into t values (1,'a'), (2,'b'), (5,'e'); " +
        "insert into t (v) values ('auto'); " +
        "replace into t values (2,'B2'); " +
        "insert or replace into t (k, v) values (5,'E2'), (7,'g'); " +
        "insert or ignore into t values (1,'dup'), (8,'h'); " +
        "insert into t values (null,'n1'), (100,'x'), (null,'n2'); " +
        "insert into t values (3,'mid'); " +
        "select k, v from t", f) ==
      (0, "1 a\n2 B2\n3 mid\n5 E2\n6 auto\n7 g\n8 h\n9 n1\n100 x\n101 n2\n"))
    spark.catalog.dropTempView("t")
    // REAL keys store losslessly as integers and feed the running max
    assert(sqawk(
      "create table t2 (k INTEGER PRIMARY KEY, v); " +
        "insert into t2 values (2.0, 'real'), (null, 'after'); select k, v from t2",
      f) == (0, "2 real\n3 after\n"))
    spark.catalog.dropTempView("t2")
    // sqlite3-pinned error surface
    assert(sqawk("create table te (k INTEGER PRIMARY KEY, v); " +
      "insert into te values (1,'a'); insert into te values (1,'dup')", f)._1 == 1) // UNIQUE constraint failed: te.k
    spark.catalog.dropTempView("te")
    assert(sqawk("create table tm (k INTEGER PRIMARY KEY, v); " +
      "insert into tm values ('abc', 1)", f)._1 == 1) // datatype mismatch
    spark.catalog.dropTempView("tm")
    assert(sqawk("create table nn (a, b NOT NULL); " +
      "insert into nn values (1, null)", f)._1 == 1) // NOT NULL constraint failed: nn.b
    spark.catalog.dropTempView("nn")
  }

  test("INSERT/UPDATE apply declared-column affinity (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: INTEGER coerces '007'→7, REAL '2.50'→2.5, non-numeric
    // text passes through; TEXT renders numbers as text (identical
    // here); undeclared columns store as-is
    assert(sqawk(
      "create table ca (i INTEGER, r REAL, tx TEXT, u); " +
        "insert into ca values ('007', '2.50', '12', '007'); " +
        "insert into ca values ('abc', 'x', '3.7', '99'); " +
        "select i, r, tx, u from ca", f) ==
      (0, "7 2.5 12 007\nabc x 3.7 99\n"))
    spark.catalog.dropTempView("ca")
    // UPDATE uses the declared affinity too: the TEXT column keeps
    // '007' verbatim where the INTEGER column stores 7
    assert(sqawk(
      "create table cu (i INTEGER, tx TEXT); insert into cu values ('1', 'a'); " +
        "update cu set i = '007', tx = '007'; select i, tx from cu", f) ==
      (0, "7 007\n"))
    spark.catalog.dropTempView("cu")
  }

  test("UPDATE enforces pk and NOT NULL constraints (sqlite3-pinned)") {
    val f = tempFile("x\n")
    val mk = "create table t (k INTEGER PRIMARY KEY, v TEXT NOT NULL); " +
      "insert into t values (1,'a'), (2,'b'); "
    assert(sqawk(mk + "update t set k = null where k = 1", f)._1 == 1) // datatype mismatch
    spark.catalog.dropTempView("t")
    assert(sqawk(mk + "update t set k = 'abc' where k = 1", f)._1 == 1) // datatype mismatch
    spark.catalog.dropTempView("t")
    assert(sqawk(mk + "update t set k = 2 where k = 1", f)._1 == 1) // UNIQUE constraint failed: t.k
    spark.catalog.dropTempView("t")
    assert(sqawk(mk + "update t set v = null where k = 1", f)._1 == 1) // NOT NULL constraint failed: t.v
    spark.catalog.dropTempView("t")
    // a REAL key with an integral value stores as the integer (no error)
    assert(sqawk(mk + "update t set k = 2.0 where k = 2; select k, v from t", f) ==
      (0, "1 a\n2 b\n"))
    spark.catalog.dropTempView("t")
  }

  test("DEFAULT VALUES and dynamically-typed VALUES rows (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // INSERT ... DEFAULT VALUES fills declared defaults, NULLs the
    // rest, and autoassigns the rowid alias
    assert(sqawk(
      "create table t (k INTEGER PRIMARY KEY, v TEXT DEFAULT 'dv', w); " +
        "insert into t default values; insert into t default values; " +
        "select k, v, w from t", f) == (0, "1 dv \n2 dv \n"))
    spark.catalog.dropTempView("t")
    // SQLite accepts mixed-type VALUES columns (dynamic typing); the
    // engine retries Spark's inline-table type rejection with
    // all-string scalars, which is exactly the stored representation
    assert(sqawk(
      "create table m (a, b); insert into m values ('x',1), (2,'y'), (null,null); " +
        "select a, b from m", f) == (0, "x 1\n2 y\n \n"))
    spark.catalog.dropTempView("m")
  }

  test("non-rowid pk: NULLs never conflict; REPLACE appends (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // TEXT PRIMARY KEY allows multiple NULLs (SQLite quirk); REPLACE
    // deletes + appends, so the displaced row lists last
    assert(sqawk(
      "create table u (k TEXT PRIMARY KEY, v); " +
        "insert into u values ('x','1'), (null,'n1'), (null,'n2'); " +
        "replace into u values ('x','2'); " +
        "insert or ignore into u values ('x','3'), ('y','4'); " +
        "select k, v from u", f) == (0, " n1\n n2\nx 2\ny 4\n"))
    spark.catalog.dropTempView("u")
    // without any pk, REPLACE is a plain INSERT (nothing to displace)
    assert(sqawk(
      "create table w (a, b); insert into w values (1,2); " +
        "replace into w values (1,3); select a, b from w", f) == (0, "1 2\n1 3\n"))
    spark.catalog.dropTempView("w")
  }

  test("ingest tables autoassign anr on INSERT (reference DDL: anr INTEGER PRIMARY KEY)") {
    val f = tempFile("foo 1\nbar 2\nbaz 3\n")
    // lib/classes/table.tcl:70 declares anr INTEGER PRIMARY KEY, so in
    // sqawk an INSERT omitting it autoassigns max+1
    assert(sqawk("insert into a (a1, a2) values ('new', 9); " +
      "select anr, a1, a2 from a", f) ==
      (0, "1 foo 1\n2 bar 2\n3 baz 3\n4 new 9\n"))
    // and a duplicate anr errors like sqlite3
    assert(sqawk("insert into a (anr, a1) values (2, 'dup')", f)._1 == 1)
  }

  test("ROLLBACK restores pre-transaction bindings (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // plain ROLLBACK undoes DML *and* DDL back to BEGIN: sqlite3 shows
    // count 1 and then errors "no such table: r1" on the same script
    assert(sqawk(
      "create table tr (k); insert into tr values (1); " +
        "begin; create table r1 (x); insert into tr values (50); rollback; " +
        "select count(*) from tr", f) == (0, "1\n"))
    assert(sqawk("select * from r1", f)._1 == 1) // rolled-back CREATE TABLE is gone
    spark.catalog.dropTempView("tr")
    // ROLLBACK also undoes DROP and ALTER (the whole binding map restores)
    assert(sqawk(
      "create table td (k); insert into td values (7); " +
        "begin; drop table td; rollback; select k from td", f) == (0, "7\n"))
    spark.catalog.dropTempView("td")
    // savepoint stack: ROLLBACK TO sp undoes past sp but keeps sp live
    // for a second rollback; a later ROLLBACK TO an outer savepoint
    // then unwinds further; plain ROLLBACK unwinds everything.
    // sqlite3 prints 1|X / 2|b, then v=a after the outer rollbacks.
    assert(sqawk(
      "create table ts (k, v); insert into ts values (1,'a'), (2,'b'); " +
        "savepoint s1; update ts set v = 'X' where k = 1; " +
        "savepoint s2; delete from ts where k = 2; " +
        "rollback to s2; select k, v from ts order by k; " + // delete undone, update kept
        "rollback to savepoint s2; " + // still live after the first rollback
        "rollback to s1; rollback; " + // outer savepoint, then full unwind
        "select v from ts where k = 1", f) == (0, "1 X\n2 b\na\n"))
    spark.catalog.dropTempView("ts")
    // sqlite3-pinned error: unknown savepoint name
    assert(sqawk("begin; rollback to nosuch", f)._1 == 1) // no such savepoint: nosuch
    // a savepoint-started transaction fully unwinds on plain ROLLBACK
    assert(sqawk(
      "create table tu (k); savepoint sp; insert into tu values (1); rollback; " +
        "select count(*) from tu", f) == (0, "0\n"))
    spark.catalog.dropTempView("tu")
  }

  test("ALTER TABLE rename/add/drop rebinds match sqlite3") {
    val f = tempFile("x\n")
    // mirror of the sqlite3 pin session: add-with-default fills
    // existing rows AND later column-list INSERTs; add-without-default
    // fills NULL; renames carry data through
    val (c, o) = sqawk(
      "create table at (k, v); insert into at values (1,'a'), (2,'b'); " +
        "alter table at add column c default 7; " +
        "select * from at; " +
        "insert into at (k,v) values (3,'c'); " +
        "alter table at add column d; " +
        "alter table at rename column v to vv; " +
        "alter table at rename to at2; " +
        "select k, vv, c, d from at2 order by k; " +
        "alter table at2 drop column d; " +
        "select * from at2 order by k", f)
    assert((c, o) == (0,
      "1 a 7\n2 b 7\n" +
        "1 a 7 \n2 b 7 \n3 c 7 \n" + // d is NULL → ""
        "1 a 7\n2 b 7\n3 c 7\n"))
    // sqlite3-pinned error cases
    assert(sqawk("alter table at2 drop column nope", f)._1 == 1) // no such column
    assert(sqawk("alter table at2 rename column nope to y", f)._1 == 1)
    assert(sqawk("create table at3 (x); alter table at3 rename to at2", f)._1 == 1) // name taken
    assert(sqawk("alter table at2 add column e default (abs(-3))", f)._1 == 1) // non-constant default
    assert(sqawk("alter table at2 add column f primary key", f)._1 == 1)
    assert(sqawk("alter table missing_alter add column x", f)._1 == 1) // no such table
    assert(sqawk("create table only1 (only_col); alter table only1 drop column only_col", f)._1 == 1)
    // views may not be altered
    assert(sqawk("create view av as select * from at2; alter table av add column z", f)._1 == 1)
    assert(sqawk("alter table av rename to av2", f)._1 == 1)
    for (v <- Seq("at2", "at3", "only1", "av")) spark.catalog.dropTempView(v)
  }

  test("DEFAULT stored text follows column affinity (sqlite3-pinned, fuzz seed 3097)") {
    val f = tempFile("x\n")
    // sqlite3 pin session: REAL DEFAULT 1e2 backfills 100.0 (not 100);
    // INTEGER converts 1e2→100 and '7'→7 but keeps 'abc' verbatim;
    // TEXT keeps a numeric literal's ORIGINAL SPELLING (1e2, 2.50);
    // NUMERIC '5.5'→5.5; a NO-affinity column keeps the literal's own
    // storage class (real literal 1e2 → 100.0); REAL DEFAULT true →
    // 1.0. Later omitted-column INSERTs fill the same stored text.
    val (c, o) = sqawk(
      "create table ad (a); insert into ad values (1); " +
        "alter table ad add column z real default 1e2; " +
        "alter table ad add column i integer default '7'; " +
        "alter table ad add column i2 integer default 1e2; " +
        "alter table ad add column i3 integer default 'abc'; " +
        "alter table ad add column s text default 1e2; " +
        "alter table ad add column s2 text default 2.50; " +
        "alter table ad add column n numeric default '5.5'; " +
        "alter table ad add column o default 1e2; " +
        "alter table ad add column r2 real default true; " +
        "select z, i, i2, i3, s, s2, n, o, r2 from ad; " +
        "insert into ad (a) values (2); " +
        "select z, i, i2, i3, s, s2, n, o, r2 from ad where a = 2", f)
    // the two rows differ on the TEXT columns: the BACKFILL keeps the
    // literal's original spelling (1e2, 2.50), the later INSERT fill
    // evaluates it (100.0, 2.5) — sqlite3 does exactly this
    assert((c, o) == (0,
      "100.0 7 100 abc 1e2 2.50 5.5 100.0 1.0\n" +
        "100.0 7 100 abc 100.0 2.5 5.5 100.0 1.0\n"))
    spark.catalog.dropTempView("ad")
  }

  test("WITH RECURSIVE runs through the script dialect (sqlite3-pinned)") {
    val f = tempFile("x\n")
    assert(sqawk("with recursive c(x) as (select 1 union all select x+1 from c where x < 5) " +
      "select sum(x) from c", f) == (0, "15\n"))
  }

  test("CREATE TABLE column DEFAULT fills omitted INSERT columns (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: 1|7|x'y then 2|8|z — the '' escape inside the default
    // literal and the default-vs-explicit row both pinned
    assert(sqawk("create table dflt (k, v default 7, w default 'x''y'); " +
      "insert into dflt (k) values (1); insert into dflt values (2, 8, 'z'); " +
      "select * from dflt order by k", f) == (0, "1 7 x'y\n2 8 z\n"))
    spark.catalog.dropTempView("dflt")
  }

  test("hundreds of DML rebinds keep the view plan bounded") {
    // Each INSERT/UPDATE/DELETE rebinds the view over its previous
    // plan; without lineage cuts 300 statements build a 300-deep plan
    // and script analysis goes quadratic (VERDICT r4 watch-list #2).
    val f = tempFile("x\n")
    val inserts = (1 to 300).map(i => s"insert into dmlchain values ($i, 'v$i')").mkString("; ")
    val (c, o) = sqawk(
      s"create table dmlchain (k, v); $inserts; " +
        "update dmlchain set v = 'z' where k = 5; delete from dmlchain where k > 290; " +
        "select count(*), min(k), max(k) from dmlchain", f)
    assert((c, o) == (0, "290 1 290\n"))
    // the rebound view's plan must have been collapsed, not 300 deep
    val nodes = spark.table("dmlchain").queryExecution.analyzed.collect { case p => p }.size
    assert(nodes < 200, s"view plan grew unbounded: $nodes nodes")
    spark.catalog.dropTempView("dmlchain")
  }

  test("CREATE VIEW re-evaluates: INSERT into the base shows through (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: view sees the row inserted AFTER its creation → y|2
    // (arithmetic inside a view hits the documented KNOWN DEVIATION —
    // double-typed scalars — so the pin uses a filter, not `v * 10`)
    val (c, o) = sqawk(
      "create table vb (k, v); insert into vb values ('x', 1); " +
        "create view vw as select k, v from vb where v > 1; " +
        "insert into vb values ('y', 2); " +
        "select k, v from vw order by k",
      f)
    assert((c, o) == (0, "y 2\n"))
    // duplicate CREATE VIEW errors; IF NOT EXISTS tolerates (sqlite3)
    assert(sqawk("create view vw as select 1", f)._1 == 1)
    assert(sqawk("create view if not exists vw as select 1; select 2", f) == (0, "2\n"))
    // DML against a view errors like sqlite3 ("cannot modify … view")
    assert(sqawk("insert into vw values (1, 2)", f)._1 == 1)
    assert(sqawk("update vw set v = 0", f)._1 == 1)
    assert(sqawk("delete from vw", f)._1 == 1)
    // DROP VIEW removes it
    assert(sqawk("drop view vw; select 3", f) == (0, "3\n"))
  }

  test("append into an initially empty first file does not fail") {
    val f1 = tempFile("")
    val f2 = tempFile("foo 1\n")
    val (c, o) = sqawk("select anr, a2 from a order by anr", "table=a", f1, "table=a", f2)
    assert((c, o) == (0, "1 1\n"))
  }

  test("affinity native expression matches the Scala canonicalizer") {
    import graft.sources.Affinity
    import org.apache.spark.sql.functions.{col, lit}
    val tricky = Seq(
      "001", "-042", "2.0", "1e2", "2.5", " 42 ", "abc", "", "0.1",
      "99999999999999999999", "1e400", "-1e400", "nan", "-0.0", ".5",
      "1.0E-7", "3.14159", "1e15", "123x", "+7", null,
      // int64 boundary: max, min, and one-past-min whose double image
      // rounds exactly onto -2^63 (sqlite3 stores the overflow as REAL)
      "9223372036854775807", "-9223372036854775808", "-9223372036854775809",
      "9223372036854775808")
    import spark.implicits._
    val df = tricky.toDF("v")
    def check(mode: String): Unit =
      for (aff <- Seq("INTEGER", "NUMERIC", "REAL", "TEXT", "BLOB")) {
        val got = df.select(Affinity.canonicalExpr(col("v"), aff)).as[String].collect().toSeq
        val want = tricky.map(v => Affinity.canonicalize(v, aff))
        assert(got == want, s"affinity $aff, $mode")
      }
    // the projection runs over the scan, not folded into a local
    // relation at optimization time; first generated, then interpreted
    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val noFold = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConf(noFold)(check("codegen"))
    withConf(noFold, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check("interpreted"))
  }

  // sqlite3-pinned: `sum()` raises "integer overflow" iff ALL inputs
  // were integers/NULL and int64 overflowed; one REAL input instead
  // degrades the result to approximate REAL, and total() never errors.
  test("sum() integer overflow errors like sqlite3; REAL input or total() does not") {
    val f = tempFile("9223372036854775807 a\n1 b\n")
    val (c, _) = sqawk("select sum(a1) from a", f)
    assert(c == 1)
    // same sum with one REAL input: approximate REAL, no error; since
    // round 7 REALs render with sqlite3's own %!.15g
    // ("9.22337203685478e+18", not the 17-digit shortest round-trip)
    val g = tempFile("9223372036854775807 a\n1 b\n0.5 c\n")
    assert(sqawk("select sum(a1) from a", g) == (0, "9.22337203685478e+18\n"))
    assert(sqawk("select total(a1) from a", f) == (0, "9.22337203685478e+18\n"))
  }

  test("chunked >1 MiB input sums correctly (tests.tcl:505-525)") {
    val unit = "1 x\n2 y\n3 z\n"
    val times = 120000
    assert(unit.length * times > 1024 * 1024)
    val f = tempFile(unit * times)
    assert(sqawk("select sum(a1) from a", f) == (0, s"${6 * times}\n"))
  }

  test("CRLF + blank-ish lines in json/tcl lines mode (tests.tcl:749-768)") {
    val j = tempFile("[100]\r\n\r\n  \t\r\n[101]\r\n \r\n")
    assert(sqawk("-OFS", "|", "-NF", "2", "select * from a",
      "format=json", "kv=0", "lines=1", j) == (0, "1|1|100|100|\n2|1|101|101|\n"))
    val t = tempFile("100\r\n\r\n  \t\r\n101\r\n \r\n")
    assert(sqawk("-OFS", "|", "-NF", "2", "select * from a",
      "format=tcl", "kv=0", "lines=1", t) == (0, "1|1|100|100|\n2|1|101|101|\n"))
    val jk = tempFile("{\"k\":100}\r\n\r\n  \t\r\n{\"k\":101}\r\n \r\n")
    assert(sqawk("-OFS", "|", "-NF", "2", "select * from a",
      "format=json", "kv=1", "lines=1", "header=1", jk)
      == (0, "1|1|k 100|100|\n2|1|k 101|101|\n"))
  }

  test("broken pipe on output exits 0; other I/O errors exit 1 (tests.tcl:70-83)") {
    val f = tempFile("a b\n")
    class ThrowingWriter(msg: String) extends StringWriter {
      override def write(s: String): Unit = throw new java.io.IOException(msg)
    }
    assert(Main.run(Seq("select a1 from a", f), spark, new ThrowingWriter("Broken pipe")) == 0)
    assert(Main.run(Seq("select a1 from a", f), spark,
      new ThrowingWriter("No space left on device")) == 1)
  }

  test("SQLite cross-type ORDER BY and min/max on affinity columns (sqlite3-verified)") {
    // sqlite3: INSERT '9','10','2','x','2.5','B','a','',NULL into an
    // INTEGER column → ORDER BY gives NULL,2,2.5,9,10,'','B','a','x'
    // (NULL from the empty record, '' from the leading-space line).
    val f = tempFile("9 p\n10 q\n2 r\nx s\n2.5 t\nB u\na v\n\n w\n")
    assert(sqawk("select a1 from a order by a1", f) == (0, "\n2\n2.5\n9\n10\n\nB\na\nx\n"))
    assert(sqawk("select a1 from a order by a1 desc", f) == (0, "x\na\nB\n\n10\n9\n2.5\n2\n\n"))
    assert(sqawk("select min(a1), max(a1) from a", f) == (0, "2 x\n"))
    // WHERE over mixed types keeps numerics only, like SQLite
    assert(sqawk("select a1 from a where a1 < 10 order by a1", f) == (0, "2\n2.5\n9\n"))
    // column-vs-column comparison: numeric order between numerics,
    // numeric < text, text memcmp ('a' > 'B'); sqlite3-verified
    val g = tempFile("9 10\n10 9\n2 x\nx 2\na B\n")
    assert(sqawk("select a1, a2 from a where a1 < a2 order by a1", g) == (0, "2 x\n9 10\n"))
  }

  test("operator-form GLOB / NOT GLOB / REGEXP (sqlite3-verified)") {
    // sqlite3: a1 GLOB 'f*' over foo/fbar/xfoo → foo,fbar; NOT GLOB →
    // xfoo. REGEXP uses the registered Tcl-order regexp(RE, string).
    val f = tempFile("foo\nfbar\nxfoo\n")
    assert(sqawk("select a1 from a where a1 GLOB 'f*'", f) == (0, "foo\nfbar\n"))
    assert(sqawk("select a1 from a where a1 NOT GLOB 'f*'", f) == (0, "xfoo\n"))
    assert(sqawk("select a1 from a where a1 REGEXP 'o$'", f) == (0, "foo\nxfoo\n"))
  }

  test("CAST prefix coercion and saturation (sqlite3-verified)") {
    // Pinned against sqlite3 over the reference's schema (columns are
    // INTEGER affinity, table.tcl:54, so '1e2' is STORED as 100 and
    // the leading-separator line's a1 is ''):
    //   CREATE TABLE a(a1 INTEGER);
    //   INSERT INTO a VALUES('12abc'),('abc'),('12.9'),('1e2'),('');
    //   SELECT CAST(a1 AS INTEGER) FROM a → 12|0|12|100|0
    // (text→INTEGER is the INTEGER-prefix of the stored value)
    val f = tempFile("12abc\nabc\n12.9\n1e2\n  42\n")
    assert(sqawk("select CAST(a1 AS INTEGER) from a", f) ==
      (0, "12\n0\n12\n100\n0\n"))
    // text→REAL is the numeric prefix: 12.0|0.0|12.9|100.0|0.0
    assert(sqawk("select CAST(a1 AS REAL) from a", f) ==
      (0, "12.0\n0.0\n12.9\n100.0\n0.0\n"))
    // real→INTEGER truncates toward zero and saturates:
    // sqlite3> SELECT CAST(12.9 AS INTEGER), CAST(-12.9 AS INTEGER),
    //   CAST(9.3e18 AS INTEGER) → 12|-12|9223372036854775807
    assert(sqawk("select CAST(12.9 AS INTEGER), CAST(-12.9 AS INTEGER)," +
      " CAST(9.3e18 AS INTEGER)", f) ==
      (0, "12 -12 9223372036854775807\n"))
    // → TEXT renders SQLite-style; '9223372036854775807123' saturates
    assert(sqawk("select CAST(12.5 AS TEXT), CAST(1e20 AS TEXT)," +
      " CAST('9223372036854775807123' AS INTEGER)", f) ==
      (0, "12.5 1.0e+20 9223372036854775807\n"))
    // booleans render as SQLite integers: CAST(1=1 AS TEXT) → 1
    assert(sqawk("select CAST(1=1 AS TEXT), CAST(1=2 AS NUMERIC)", f) ==
      (0, "1 0\n"))
  }

  test("CTAS composes with SQLite CAST semantics") {
    // the dialect rewrite applies before DDL handling, so a CTAS body
    // gets prefix-coercion casts too: 12abc→12, 7x→7; then +1, ordered
    val f = tempFile("12abc\n7x\n")
    assert(sqawk(
      "CREATE TEMP TABLE t AS SELECT CAST(a1 AS INTEGER) AS i FROM a;" +
        " SELECT i + 1 FROM t ORDER BY i", f) == (0, "8\n13\n"))
  }

  test("scalar arithmetic is per-value dynamic like sqlite3 (deviation closed r7)") {
    // sqlite3: a1+a2, a1*2, a1/2, a1+0.5 → 8|10|2|5.5 — INTEGER
    // results for int⊗int, TRUNCATING int division, REAL the moment
    // either operand is REAL. Round 7 closed the formerly-pinned
    // "double-typed arithmetic" deviation: SqliteArith rewrites every
    // script `+ - * / %` on the PARSED plan into SqliteArithExpr,
    // which applies SQLite's per-VALUE dynamic typing and renders the
    // canonical dynamic-value text.
    val f = tempFile("5 3\n")
    assert(sqawk("select a1 + a2, a1 * 2, a1 / 2, a1 + 0.5 from a", f) ==
      (0, "8 10 2 5.5\n"))
    // %: sqlite casts % operands to INTEGER; result is REAL iff
    // either operand was (5.5 % 2 → 1.0, '5' % 2 → 1)
    assert(sqawk("select 5.5 % 2, a1 % 2 from a", f) == (0, "1.0 1\n"))
    // literal-only arithmetic follows the same dynamic rules
    // (sqlite3-verified): 5/2→2, 7.0/2→3.5, '5.5'+1→6.5, 'x'+1→1
    // (non-numeric text converts to INTEGER 0), '12abc'*2→24 (prefix
    // parse), and ALL division/modulo by zero is NULL, never Inf
    assert(sqawk("select 5/2, 7.0/2, '5.5'+1, 'x'+1, '12abc'*2 from a", f) ==
      (0, "2 3.5 6.5 1 24\n"))
    assert(sqawk("select 1/0, 1%0, 2.5/0 from a", f) == (0, "  \n"))
    // nesting propagates dynamic types: (5/2)*2 → 4 (int chain),
    // (5.0/2)*2 → 5.0 (real taints the chain)
    assert(sqawk("select (5/2)*2, (5.0/2)*2 from a", f) == (0, "4 5.0\n"))
    // int64 overflow falls back to REAL like sqlite3
    assert(sqawk("select 9223372036854775807 + 1 from a", f) ==
      (0, "9.22337203685478e+18\n"))
  }

  test("negative LIMIT means no limit; OFFSET survives (sqlite3 semantics)") {
    val f = tempFile("1\n2\n3\n")
    assert(sqawk("select a1 from a order by anr limit -1", f) == (0, "1\n2\n3\n"))
    assert(sqawk("select a1 from a order by anr limit -1 offset 1", f) ==
      (0, "2\n3\n"))
  }

  test("LIKE is case-insensitive like SQLite's default (sqlite3-verified)") {
    // sqlite3: 'ABC' LIKE 'abc' → 1; 'abc' LIKE 'AB%' → 1;
    // 'xyz' NOT LIKE 'X%' → 0; like('a%','ABC') → 1. (SQLite folds
    // ASCII only; this engine's ILIKE folds full Unicode — noted at
    // the rewrite.)
    val f = tempFile("ABC\nxyz\n")
    assert(sqawk("select a1 from a where a1 LIKE 'abc'", f) == (0, "ABC\n"))
    assert(sqawk("select a1 from a where a1 NOT LIKE 'X%' order by a1", f) ==
      (0, "ABC\n"))
    assert(sqawk("select like('a%', a1) from a order by a1", f) == (0, "1\n0\n"))
    assert(sqawk("select a1 from a where a1 LIKE 'a_c' ESCAPE '!'", f) ==
      (0, "ABC\n"))
  }

  test("core-function battery: iif/printf/format/char/sign/math (sqlite3-verified)") {
    // every expected value is sqlite3 output for the same expression
    val f = tempFile("v\n")
    assert(sqawk("select iif(1 < 2, 'y', 'n'), char(72, 105)", f) == (0, "y Hi\n"))
    // iif truthiness on non-boolean conditions; char() is Unicode
    // codepoints (NOT mod-256) and char() with no args is ''
    assert(sqawk("select iif(1, 'y', 'n'), iif('5abc', 'y', 'n')," +
      " iif('abc', 'y', 'n'), iif(NULL, 'y', 'n')", f) == (0, "y y n n\n"))
    assert(sqawk("select char(8364, 72), char()", f) == (0, "€H \n"))
    assert(sqawk("select printf('%05.1f|%s', 3.5, 'x'), format('%d-%s', 42, 'a')", f)
      == (0, "003.5|x 42-a\n"))
    // per-directive coercion, C-style %g, %x, %c, %q
    assert(sqawk("select printf('%d', 3.7), printf('%d', '5x')," +
      " printf('%g', 1024.0), printf('%x', 255), printf('%c', 'hi')", f)
      == (0, "3 5 1024 ff h\n"))
    assert(sqawk("select printf('%q', 'it''s'), printf('%.2e', 12345.678)", f)
      == (0, "it''s 1.23e+04\n"))
    assert(sqawk("select sign(-5), sign(0), sign(3)", f) == (0, "-1 0 1\n"))
    // floor/ceil keep SQLite result classes: INTEGER stays INTEGER,
    // REAL stays REAL, non-numeric text is NULL, no int64 clamp
    assert(sqawk("select floor(1.7), ceil(1.2), mod(7, 3), pow(2, 10)", f)
      == (0, "1.0 2.0 1.0 1024.0\n"))
    assert(sqawk("select floor(5), ceil(5), floor('5.5'), floor(1e19)," +
      " floor('abc')", f) == (0, "5 5 5.0 1.0e+19 \n"))
    // arity errors are loud, like sqlite3's
    assert(sqawk("select floor(1.5, 2)", f)._1 == 1)
  }

  test("group_concat in scripts (sqlite3-verified)") {
    // sqlite3 over {a,b,c} with a2 groups {1,1,2}: group_concat(a1)
    // → a,b,c ; per-group with '|' → 1:a|b, 2:c. Ordering is
    // unspecified in BOTH dialects; on this single-partition input
    // both engines emit insertion order. DISTINCT is supported (set
    // semantics; order unpinned).
    val f = tempFile("a 1\nb 1\nc 2\n")
    assert(sqawk("select group_concat(a1) from a", f) == (0, "a,b,c\n"))
    assert(sqawk("select a2, group_concat(a1, '|') from a group by a2 order by a2", f)
      == (0, "1 a|b\n2 c\n"))
    val (c, o) = sqawk("select group_concat(DISTINCT a1) from a", f)
    assert(c == 0 && o.trim.split(",").sorted.toSeq == Seq("a", "b", "c"))
  }

  test("avg coerces text and counts it (sqlite3-verified)") {
    // sqlite3 (INTEGER-affinity {'10','x','','3.5'} — the leading
    // separator makes row 3's a1 the EMPTY STRING, which coerces to 0
    // and counts): avg = 13.5/4 = 3.375, count = 4. Spark's avg would
    // drop 'x' and '' and say 6.75. avg over zero non-NULL inputs is
    // NULL (prints empty).
    val f = tempFile("10 q\nx q\n q\n3.5 q\n")
    assert(sqawk("select avg(a1), count(a1), total(a1) from a", f) ==
      (0, "3.375 4 13.5\n"))
    assert(sqawk("select avg(a1) from a where a1 IS NULL", f) == (0, "\n"))
  }

  test("typeof/quote/unicode/2-arg trims/likely (sqlite3-verified)") {
    // sqlite3 pins: typeof('x')=text, typeof(123)=integer,
    // typeof(1.5)=real, typeof(NULL)=null; over an INTEGER-affinity
    // column {'10','x''y','1.5'}: typeof → integer,text,real and
    // quote → 10, 'x''y', 1.5; unicode('abc')=97, unicode('')=NULL;
    // ltrim('xxyhello','xy')='hello' (SQLite arg order: src, chars);
    // likely(7)=7.
    val f = tempFile("10\nx'y\n1.5\n")
    assert(sqawk("select typeof('x'), typeof(123), typeof(1.5), typeof(NULL)" +
      " from a limit 1", f) == (0, "text integer real null\n"))
    assert(sqawk("select typeof(a1), quote(a1) from a", f) ==
      (0, "integer 10\ntext 'x''y'\nreal 1.5\n"))
    assert(sqawk("select unicode('abc'), unicode(''), likely(7)," +
      " ltrim('xxyhello', 'xy'), rtrim('helloyx', 'xy')," +
      " trim('xhellox', 'x') from a limit 1", f) ==
      (0, "97  7 hello hello hello\n"))
  }

  test("scalar min/max at arity >= 2 (sqlite3-verified)") {
    // sqlite3> SELECT min(2,3), max(2,3), min(2,NULL), max('10',2),
    //   min('a','2') → 2|3||10|2
    // sqlite3> SELECT max('2', 10), min('2', 10) → 2|10 — a TEXT
    // literal is TEXT storage class even when numeric-looking, and
    // TEXT sorts above every number (classification is by operand
    // PROVENANCE, not value).
    // Per-row over an INTEGER-affinity column: max(c, 5) over
    // {'10','3'} → 10, 5. Aggregate min/max (1 arg) is unaffected.
    val f = tempFile("10\n3\n")
    assert(sqawk("select min(2, 3), max(2, 3), min(2, NULL), max('10', 2)," +
      " min('a', '2') from a limit 1", f) == (0, "2 3  10 2\n"))
    assert(sqawk("select max('2', 10), min('2', 10) from a limit 1", f) ==
      (0, "2 10\n"))
    // 3-arg fold with mixed provenance (affinity column, int literal,
    // text literal) — pins the winner-key propagation through the
    // pairwise fold. sqlite3 over {'2','10','x'}:
    //   min(c,5,'z') → 2|5|5 ; max(c,5,'z') → z|z|z... per-row:
    //   ('2': min 2, max z) ('10': min 5, max z) ('x': min 5, max z)
    val m3 = tempFile("2\n10\nx\n")
    assert(sqawk("select min(a1, 5, 'z'), max(a1, 5, 'z') from a", m3) ==
      (0, "2 z\n5 z\n5 z\n"))
    assert(sqawk("select max(a1, 5) from a", f) == (0, "10\n5\n"))
    assert(sqawk("select min(a1), max(a1) from a", f) == (0, "3 10\n"))
  }

  test("ORDER BY keeps per-branch storage class in conditionals (sqlite3-pinned, fuzz seed 2172)") {
    val f = tempFile("x\n")
    // sqlite3 pin: upper(a) produces TEXT storage even when the
    // characters look numeric ('100.0'), b+1 produces a number; the
    // CASE's rows rank by the class of the branch each value came
    // from — numerics (1, 4, 10) first, then TEXT lexicographically
    // ('100.0' < '2.5'). Same per-branch rule through coalesce.
    val setup = "create table pt (a REAL, b); insert into pt values " +
      "(100.0, 2.5), (2.5, 0.5), (-1, 3), (-2, 'zz'), (NULL, 9); "
    assert(sqawk(setup +
      "select case when a > 0 then upper(a) else b + 1 end as x " +
      "from pt order by 1", f) == (0, "1\n4\n10\n100.0\n2.5\n"))
    assert(sqawk("select coalesce(upper(a), b) from pt order by 1", f) ==
      (0, "9\n-1.0\n-2.0\n100.0\n2.5\n"))
    spark.catalog.dropTempView("pt")
  }

  test("lower() expression-index keys are TEXT storage (sqlite3-pinned, fuzz seed 7651)") {
    // sqlite's lower() always returns TEXT, so lower(1e2)='100.0' and
    // lower(100)='100' are DISTINCT index keys — the value-class
    // collapse must not merge them...
    assert(sqawk("-noinput",
      "create table t1 (a REAL, c); " +
        "create unique index i1 on t1 (lower(c)); " +
        "insert into t1 values (1, 1e2); insert into t1 values (2, 100); " +
        "select count(*) from t1") == (0, "2\n"))
    spark.catalog.dropTempView("t1")
    // ...while genuine case-folded duplicates still violate
    assert(sqawk("-noinput",
      "create table t1 (c); create unique index i1 on t1 (lower(c)); " +
        "insert into t1 values ('ABC'); insert into t1 values ('abc')")._1 == 1)
    spark.catalog.dropTempView("t1")
  }

  test("text-fn PREFIX keys stay value-class (sqlite3-pinned, ADVICE r10)") {
    // lower(c) + 1 is ARITHMETIC — sqlite coerces to numeric storage,
    // so '100' and '100.0' both key as 101 and the second insert
    // violates the unique index. A prefix-anchored TEXT classifier
    // would keep '101' vs '101.0' distinct and wrongly accept it.
    assert(sqawk("-noinput",
      "create table t1 (c); create unique index i1 on t1 (lower(c) + 1); " +
        "insert into t1 values ('100'); insert into t1 values ('100.0')")._1 == 1)
    spark.catalog.dropTempView("t1")
    // concat inside a larger expression: still numeric (sqlite3: the
    // || result feeds arithmetic) — '12' then '12.0' violates
    assert(sqawk("-noinput",
      "create table t1 (a, b); " +
        "create unique index i1 on t1 ((a || b) * 1); " +
        "insert into t1 values ('1', '2'); insert into t1 values ('1', '2.0')")._1 == 1)
    spark.catalog.dropTempView("t1")
    // whole-span call with an embedded quoted paren: still TEXT —
    // replace(c, ')', '') spans the key, '100' vs '100.0' distinct
    assert(sqawk("-noinput",
      "create table t1 (c); " +
        "create unique index i1 on t1 (replace(c, ')', '')); " +
        "insert into t1 values ('100'); insert into t1 values ('100.0'); " +
        "select count(*) from t1") == (0, "2\n"))
    spark.catalog.dropTempView("t1")
  }

  test("composite concat keys are TEXT storage (sqlite3-pinned, ADVICE r11)") {
    // sqlite's || ALWAYS yields TEXT, so `lower(a) || b` — a text-fn
    // PREFIX that does not span the key — still holds TEXT keys:
    // 'x100' vs 'x100.0' stay distinct (the whole-span-only check
    // collapsed them to value-class and raised a spurious violation)
    assert(sqawk("-noinput",
      "create table t1 (a, b); " +
        "create unique index i1 on t1 (lower(a) || b); " +
        "insert into t1 values ('X', '100'); " +
        "insert into t1 values ('x', '100.0'); " +
        "select count(*) from t1") == (0, "2\n"))
    spark.catalog.dropTempView("t1")
    // plain column concat is TEXT too ('100' vs '100.0' distinct)...
    assert(sqawk("-noinput",
      "create table t2 (a, b); " +
        "create unique index i2 on t2 (a || b); " +
        "insert into t2 values ('100', ''); " +
        "insert into t2 values ('100.0', ''); " +
        "select count(*) from t2") == (0, "2\n"))
    spark.catalog.dropTempView("t2")
    // ...including wrapped in redundant outer parens
    assert(sqawk("-noinput",
      "create table t3 (c); " +
        "create unique index i3 on t3 ((lower(c) || c)); " +
        "insert into t3 values ('100'); insert into t3 values ('100.0'); " +
        "select count(*) from t3") == (0, "2\n"))
    spark.catalog.dropTempView("t3")
    // an arithmetic TAIL re-coerces to numeric storage (|| binds
    // tightest): (lower(c) || '') + 0 keys 100 for both → violation
    assert(sqawk("-noinput",
      "create table t4 (c); " +
        "create unique index i4 on t4 ((lower(c) || '') + 0); " +
        "insert into t4 values ('100'); insert into t4 values ('100.0')")._1 == 1)
    spark.catalog.dropTempView("t4")
    // same with an un-parenthesized tail: a || b - 0 is (a||b)-0
    assert(sqawk("-noinput",
      "create table t5 (a, b); " +
        "create unique index i5 on t5 (a || b - 0); " +
        "insert into t5 values ('10', '0'); insert into t5 values ('1', '00')")._1 == 1)
    spark.catalog.dropTempView("t5")
  }

  test("arithmetic inside CTE bodies gets the dialect rewrite (sqlite3-pinned, fuzz seed 109)") {
    // UnresolvedWith keeps CTE definitions out of `children`, so the
    // pre-analysis arithmetic rewrite never saw them: 'B' - 0.5 kept
    // Spark typing (NULL) instead of sqlite's text-coerces-to-0
    // (-0.5). One root cause behind round-11 fuzz seeds
    // 109/175/180/302/345/391.
    assert(sqawk("-noinput",
      "create table t1 (c NUMERIC); " +
        "insert into t1 values ('B'), (''), (42), ('zz'); " +
        "with w as (select c - 0.5 as v from t1) " +
        "select v from w order by 1") == (0, "-0.5\n-0.5\n-0.5\n41.5\n"))
    spark.catalog.dropTempView("t1")
    // int ⊗ int inside a CTE stays INTEGER (sqlite: -1 + 42 = 41, not
    // 41.0), and text + int coerces (zz + 42 = 42) — seed 302's CASE
    assert(sqawk("-noinput",
      "create table t1 (d); insert into t1 values (-1), ('zz'); " +
        "with w as (select d + 42 as v from t1) " +
        "select v from w order by 1") == (0, "41\n42\n"))
    spark.catalog.dropTempView("t1")
  }

  test("INSTEAD OF UPDATE applies the underlying column affinity to NEW (sqlite3-pinned, fuzz seed 1597)") {
    // sqlite3: UPDATE v SET a = 100.0 binds NEW.a as INTEGER 100 when
    // the view column's base column is NUMERIC; the INSERT arm applies
    // NO affinity (100.0 stays real) — both pinned.
    assert(sqawk("-noinput",
      "create table t1 (a NUMERIC); insert into t1 values (1); " +
        "create temp view v as select a from t1; create table log(w); " +
        "create trigger vt instead of update on v begin " +
        "insert into log values (NEW.a); end; " +
        "update v set a = 100.0; select w from log") == (0, "100\n"))
    spark.catalog.dropTempView("t1"); spark.catalog.dropTempView("v")
    spark.catalog.dropTempView("log")
    assert(sqawk("-noinput",
      "create table t1 (a NUMERIC); " +
        "create temp view v as select a from t1; create table log(w); " +
        "create trigger vt instead of insert on v begin " +
        "insert into log values (NEW.a); end; " +
        "insert into v values (100.0); select w from log") == (0, "100.0\n"))
    spark.catalog.dropTempView("t1"); spark.catalog.dropTempView("v")
    spark.catalog.dropTempView("log")
  }

  test("INSTEAD OF INSERT applies OP_RealAffinity only (sqlite3-pinned, fuzz seeds 532/1042)") {
    // sqlite's INSTEAD OF INSERT binds NEW with NO column affinity
    // EXCEPT the int→real presentation a REAL-affinity view column
    // always gets: bare 7 over a REAL base logs 7.0, while numeric
    // TEXT ('5') stays text, reals pass through, and NUMERIC bases
    // convert nothing (100.0 stays 100.0 — full affinity would make
    // it 100). Matrix pinned against sqlite3 this round.
    assert(sqawk("-noinput",
      "create table t1 (r REAL, n NUMERIC); " +
        "create temp view v as select r, n from t1; create table log(w); " +
        "create trigger vt instead of insert on v begin " +
        "insert into log values (NEW.r); insert into log values (NEW.n); end; " +
        "insert into v values (7, 100.0); insert into v values (2.5, -1); " +
        "select w from log order by 1") == (0, "-1\n2.5\n7.0\n100.0\n"))
    spark.catalog.dropTempView("t1"); spark.catalog.dropTempView("v")
    spark.catalog.dropTempView("log")
    // quoted numeric text keeps TEXT storage under REAL (no full
    // affinity on the INSERT arm): '5' logs as text, so a typeof-free
    // ordered dump shows it unconverted
    assert(sqawk("-noinput",
      "create table t1 (r REAL); " +
        "create temp view v as select r from t1; create table log(w); " +
        "create trigger vt instead of insert on v begin " +
        "insert into log values (NEW.r); end; " +
        "insert into v values ('5'); " +
        "select w from log") == (0, "5\n"))
    spark.catalog.dropTempView("t1"); spark.catalog.dropTempView("v")
    spark.catalog.dropTempView("log")
  }

  test("coalesce over a TEXT column and a numeric literal ranks per branch (sqlite3-pinned, fuzz seed 3940)") {
    // a TEXT-affinity column's values are TEXT storage; the coerced
    // numeric literal stays numeric — sqlite: -5, '', '-3', '5'
    val f = tempFile("x\n")
    assert(sqawk("create table pt (a TEXT); " +
      "insert into pt values ('-3'), (NULL), ('5'), (''); " +
      "select coalesce(a, -5) from pt order by 1", f) ==
      (0, "-5\n\n-3\n5\n"))
    spark.catalog.dropTempView("pt")
  }

  test("partial-index WHERE applies the comparison-affinity matrix (sqlite3-pinned, fuzz seed 5141)") {
    // sqlite3: under INTEGER affinity, TEXT-storage 'x' ranks above
    // every numeric, so `a > 0` COVERS 'x' — the second 'x' row must
    // violate the partial UNIQUE index (Spark's numeric coercion
    // would yield NULL and silently skip the index).
    val (code, _) = sqawk("-noinput",
      "create table t1 (a INTEGER); " +
        "create unique index i1 on t1 (a) where a > 0; " +
        "insert into t1 values ('x'); insert into t1 values ('x')")
    assert(code == 1)
    spark.catalog.dropTempView("t1")
    // and values the WHERE genuinely excludes still insert freely
    assert(sqawk("-noinput",
      "create table t1 (a INTEGER); " +
        "create unique index i1 on t1 (a) where a > 0; " +
        "insert into t1 values (0); insert into t1 values (0); " +
        "select count(*) from t1") == (0, "2\n"))
    spark.catalog.dropTempView("t1")
  }

  test("numeric literals in conditionals keep numeric storage (sqlite3-pinned, fuzz seed 2535)") {
    // Spark's type coercion casts the bare 42 to STRING to match the
    // affinity column's type; the per-branch key must still rank it
    // in the NUMERIC tier (a quoted '42' would be TEXT storage).
    val f = tempFile("x\n")
    val setup = "create table pt (a REAL, b); insert into pt values " +
      "(100.0, 2.5), (2.5, 0.5), (-1, 3), (-2, 'zz'), (NULL, 9); "
    assert(sqawk(setup + "select coalesce(a, 42) from pt order by 1", f) ==
      (0, "-2.0\n-1.0\n2.5\n42\n100.0\n"))
    // genuinely mixed: TEXT branch (upper), numeric literal branch,
    // value branch — sqlite3: -2.0, -1.0, 42, '100.0', '2.5'
    assert(sqawk("select case when a > 0 then upper(a) " +
      "when b = 9 then 42 else a end as x from pt order by 1", f) ==
      (0, "-2.0\n-1.0\n42\n100.0\n2.5\n"))
    spark.catalog.dropTempView("pt")
  }

  test("ORDER BY keeps per-branch storage class over GROUP BY (sqlite3-pinned, ADVICE r9)") {
    // The seed-2172 rule through an Aggregate child: the hidden
    // per-branch key must ride in as an extra aggregateExpression
    // (the Project-only injection fell back to the whole-value key,
    // ranking TEXT-storage '100.0' with the numerics). Each b-group
    // is a single row, so the branch mix matches the seed-2172 pin.
    val f = tempFile("x\n")
    val setup = "create table pt (a REAL, b); insert into pt values " +
      "(100.0, 2.5), (2.5, 0.5), (-1, 3), (-2, 'zz'), (NULL, 9); "
    assert(sqawk(setup +
      "select case when max(a) > 0 then upper(max(a)) else min(b) + 1 end as x " +
      "from pt group by b order by 1", f) == (0, "1\n4\n10\n100.0\n2.5\n"))
    assert(sqawk("select coalesce(upper(max(a)), min(b)) as x " +
      "from pt group by b order by 1", f) == (0, "9\n-1.0\n-2.0\n100.0\n2.5\n"))
    spark.catalog.dropTempView("pt")
  }

  test("IS / IS NOT null-safe comparison (sqlite3-verified)") {
    // sqlite3> SELECT 1 IS 1, NULL IS NULL, 'a' IS 'b', 1 IS NOT 2,
    //   NULL IS NOT 1  →  1|1|0|1|1
    val f = tempFile("x\n")
    assert(sqawk("select 1 IS 1, NULL IS NULL, 'a' IS 'b', 1 IS NOT 2," +
      " NULL IS NOT 1 from a", f) == (0, "1 1 0 1 1\n"))
  }

  test("TEXT-vs-NONE column comparisons compare storage classes " +
      "(sqlite3-verified, round-15 fuzz seed 23794)") {
    // sqlite applies affinity only to literal/expression operands —
    // between two COLUMNS no conversion happens, so an int 7 stored
    // in a no-affinity column is never equal to TEXT '7' and numeric
    // storage orders below text:
    //   sqlite3> CREATE TABLE t (a, d TEXT);
    //   sqlite3> INSERT INTO t VALUES (7,'7'),('B','B'),(2.5,'2.5'),('x','x');
    //   sqlite3> SELECT a, (a IS NOT d), (a = d), (a < d) FROM t;
    //   → 7|1|0|1  B|0|1|0  2.5|1|0|1  x|0|1|0
    val f = tempFile("x\n")
    val setup = "create table tn (i INTEGER PRIMARY KEY, a, d TEXT); " +
      "insert into tn values " +
      "(1, 7, '7'), (2, 'B', 'B'), (3, 2.5, '2.5'), (4, 'x', 'x'); "
    assert(sqawk(setup +
      "select a, a IS NOT d, a = d, a < d from tn order by i", f) ==
      (0, "7 1 0 1\nB 0 1 0\n2.5 1 0 1\nx 0 1 0\n"))
    spark.catalog.dropTempView("tn")
  }

  test("upsert conflict keys collapse numeric renderings " +
      "(sqlite3-verified, round-15 fuzz seed 32811)") {
    // sqlite3> CREATE TABLE t (a REAL, b); INSERT INTO t VALUES (2.5, 100);
    //   CREATE UNIQUE INDEX i ON t (b);
    //   INSERT INTO t VALUES (-1.25, 1e2) ON CONFLICT (b) DO NOTHING;
    //   SELECT count(*) FROM t;  → 1  (int 100 and real 100.0 are ONE key)
    //   INSERT INTO t VALUES (-1, 100) ON CONFLICT (b) DO UPDATE SET a = excluded.a;
    //   SELECT a FROM t;  → -1.0  (the DO-UPDATE arm matches across renderings)
    val f = tempFile("x\n")
    val setup = "create table tw (a REAL, b); insert into tw values (2.5, 100); " +
      "create unique index iw1 on tw (b); "
    assert(sqawk(setup +
      "insert into tw values (-1.25, 1e2) on conflict (b) do nothing; " +
      "insert into tw values (-1, 100.0) on conflict (b) do update set a = excluded.a; " +
      "select a, b, (select count(*) from tw) from tw", f) ==
      (0, "-1.0 100 1\n"))
    spark.catalog.dropTempView("tw")
  }

  test("upsert enforces expression unique indexes outside its conflict " +
      "target (sqlite3-verified, round-15 fuzz seed 23660)") {
    // sqlite3> CREATE TABLE t (a INTEGER PRIMARY KEY, c REAL);
    //   INSERT INTO t VALUES (-5, 1e2);
    //   CREATE UNIQUE INDEX i1 ON t (lower(c));
    //   INSERT INTO t VALUES (42, 1e2) ON CONFLICT (a) DO NOTHING;
    //   → Runtime error: UNIQUE constraint failed: index 'i1'
    val f = tempFile("x\n")
    val setup = "create table tu (a INTEGER PRIMARY KEY, c REAL); " +
      "insert into tu values (-5, 1e2); " +
      "create unique index iu1 on tu (lower(c)); "
    val (rc, _) = sqawk(setup +
      "insert into tu values (42, 1e2) on conflict (a) do nothing; " +
      "select count(*) from tu", f)
    assert(rc != 0, "expected the expression-index conflict to error")
    // the absorbing target still absorbs: a true pk conflict is a no-op
    val f2 = tempFile("x\n")
    assert(sqawk(setup.replace("tu", "tv").replace("iu1", "iv1") +
      "insert into tv values (-5, 0.5) on conflict (a) do nothing; " +
      "select count(*) from tv", f2) == (0, "1\n"))
    spark.catalog.dropTempView("tv")
  }

  test("COLLATE NOCASE ordering and equality (sqlite3-verified)") {
    // sqlite3: ORDER BY c COLLATE NOCASE, c over b/A/a/B → A,a,B,b;
    // 'FOO' = 'foo' COLLATE NOCASE → 1
    val f = tempFile("b\nA\na\nB\n")
    assert(sqawk("select a1 from a order by a1 COLLATE NOCASE, a1", f) ==
      (0, "A\na\nB\nb\n"))
    assert(sqawk("select a1 from a where a1 = ('a' COLLATE NOCASE) order by a1", f) ==
      (0, "A\na\n"))
    // mixed types under NOCASE: SQLite's storage-class ordering is
    // unaffected by the collation (numerics still sort numerically
    // before text) — sqlite3: '10','b','A','2','a' → 2, 10, A, a, b
    val m = tempFile("10\nb\nA\n2\na\n")
    assert(sqawk("select a1 from a order by a1 COLLATE NOCASE, a1", m) ==
      (0, "2\n10\nA\na\nb\n"))
  }

  test("COLLATE RTRIM ignores trailing spaces (sqlite3-verified)") {
    // sqlite3 over c in ('b ','a  ','a','ab','a '):
    //   SELECT c ORDER BY c COLLATE RTRIM, c → a, 'a ', 'a  ', ab, 'b '
    //   SELECT c WHERE c = ('a' COLLATE RTRIM) ORDER BY c → a, 'a ', 'a  '
    //   SELECT ' a' = 'a' COLLATE RTRIM → 0 (leading spaces count)
    // a0 is the raw line (trim defaults to none), so trailing spaces
    // survive ingestion.
    val f = tempFile("b \na  \na\nab\na \n")
    assert(sqawk("select a0 from a order by a0 COLLATE RTRIM, a0", f) ==
      (0, "a\na \na  \nab\nb \n"))
    assert(sqawk("select a0 from a where a0 = ('a' COLLATE RTRIM) order by a0", f) ==
      (0, "a\na \na  \n"))
    assert(sqawk("select ' a' = 'a' COLLATE RTRIM from a limit 1", f) ==
      (0, "0\n"))
  }

  test("three-way join across three files (examples/three-files/tryme.sh)") {
    // the reference example verbatim: -FS , three CSVish files,
    // expected output from examples/three-files/results.correct
    val f1 = tempFile("1,a\n2,b\n3,c\n")
    val f2 = tempFile("1,d\n2,e\n3,f\n")
    val f3 = tempFile("1,g\n2,h\n3,i\n")
    val (c, o) = sqawk("-FS", ",",
      "select a1, a2, b2, c2 from a inner join b on a1 = b1 inner join c on a1 = c1",
      f1, f2, f3)
    assert((c, o) == (0, "1 a d g\n2 b e h\n3 c f i\n"))
  }

  test("CREATE TRIGGER: INSERT/UPDATE/DELETE rows, WHEN, OLD/NEW (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // the full matrix in one script — sqlite3 output:
    //   ins|1|x / ins|2|y / upd|2|12 / del|1|z
    // (UPDATE OF a only fires for the a-assignment; WHEN gates on the
    // NEW value; BEFORE DELETE sees the post-update OLD row)
    val (c, o) = sqawk(
      "CREATE TABLE tga(a INTEGER, b TEXT);" +
        "CREATE TABLE tgl(ev TEXT, x, y);" +
        "CREATE TRIGGER tr1 AFTER INSERT ON tga BEGIN " +
        "INSERT INTO tgl VALUES ('ins', NEW.a, NEW.b); END;" +
        "CREATE TRIGGER tr2 AFTER UPDATE OF a ON tga WHEN NEW.a > 10 BEGIN " +
        "INSERT INTO tgl VALUES ('upd', OLD.a, NEW.a); END;" +
        "CREATE TRIGGER tr3 BEFORE DELETE ON tga BEGIN " +
        "INSERT INTO tgl VALUES ('del', OLD.a, OLD.b); END;" +
        "INSERT INTO tga VALUES (1, 'x'), (2, 'y');" +
        "UPDATE tga SET a = a + 10 WHERE a = 2;" +
        "UPDATE tga SET b = 'z' WHERE a = 1;" +
        "DELETE FROM tga WHERE a = 1;" +
        "SELECT * FROM tgl", f)
    assert((c, o) == (0, "ins 1 x\nins 2 y\nupd 2 12\ndel 1 z\n"))
  }

  test("triggers fire newest-first per row and never recurse (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: B1 A1 B2 A2 — row-major, reverse creation order
    assert(sqawk(
      "CREATE TABLE tgb(a); CREATE TABLE tgm(x);" +
        "CREATE TRIGGER t1 AFTER INSERT ON tgb BEGIN " +
        "INSERT INTO tgm VALUES ('A'||NEW.a); END;" +
        "CREATE TRIGGER t2 AFTER INSERT ON tgb BEGIN " +
        "INSERT INTO tgm VALUES ('B'||NEW.a); END;" +
        "INSERT INTO tgb VALUES (1),(2); SELECT x FROM tgm", f) ==
      (0, "B1\nA1\nB2\nA2\n"))
    // a body INSERT into the trigger's own table inserts WITHOUT
    // re-firing (recursive_triggers off, sqlite default): t holds
    // 1 and 2, log only the original 1
    assert(sqawk(
      "CREATE TABLE r(a); CREATE TABLE rlog(x);" +
        "CREATE TRIGGER rt AFTER INSERT ON r BEGIN " +
        "INSERT INTO r VALUES (NEW.a + 1); INSERT INTO rlog VALUES (NEW.a); END;" +
        "INSERT INTO r VALUES (1);" +
        "SELECT 't', a FROM r ORDER BY 2; SELECT 'log', x FROM rlog", f) ==
      (0, "t 1\nt 2\nlog 1\n"))
  }

  test("trigger DDL surface: DROP, view rejection, DROP TABLE cleanup (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // DROP TRIGGER stops firing; IF EXISTS tolerated; missing errors
    assert(sqawk(
      "CREATE TABLE tgc(a); CREATE TABLE tgn(x);" +
        "CREATE TRIGGER tr AFTER INSERT ON tgc BEGIN " +
        "INSERT INTO tgn VALUES (NEW.a); END;" +
        "INSERT INTO tgc VALUES (1); DROP TRIGGER tr;" +
        "INSERT INTO tgc VALUES (50); DROP TRIGGER IF EXISTS nope;" +
        "SELECT count(*) FROM tgn", f) == (0, "1\n"))
    val (c1, _) = sqawk("CREATE TABLE tge(a); DROP TRIGGER nope2", f)
    assert(c1 == 1) // no such trigger: nope2
    // sqlite3: "cannot create AFTER trigger on view: v"
    val (c2, _) = sqawk(
      "CREATE TABLE tgf(a); CREATE VIEW tgv AS SELECT * FROM tgf;" +
        "CREATE TRIGGER bad AFTER INSERT ON tgv BEGIN SELECT 1; END", f)
    assert(c2 == 1)
    // DROP TABLE drops its triggers: the recreated table updates freely
    assert(sqawk(
      "CREATE TABLE tgd(a);" +
        "CREATE TRIGGER x BEFORE UPDATE ON tgd FOR EACH ROW " +
        "WHEN OLD.a IS NOT NULL BEGIN SELECT 1; END;" +
        "DROP TABLE tgd; CREATE TABLE tgd(a); INSERT INTO tgd VALUES(3);" +
        "UPDATE tgd SET a=4; SELECT a FROM tgd", f) == (0, "4\n"))
  }

  test("INSTEAD OF triggers route view DML through the body (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // INSERT: the view is never touched; the body stores a transform
    assert(sqawk(
      "CREATE TABLE ioit(a, b); INSERT INTO ioit VALUES (1,'x');" +
        "CREATE VIEW ioiv AS SELECT a, b FROM ioit;" +
        "CREATE TRIGGER ioii INSTEAD OF INSERT ON ioiv BEGIN " +
        "INSERT INTO ioit VALUES (NEW.a*10, NEW.b||'!'); END;" +
        "INSERT INTO ioiv VALUES (5,'z');" +
        "SELECT a, b FROM ioit ORDER BY a", f) == (0, "1 x\n50 z!\n"))
    // UPDATE OF + WHEN + DELETE over a computed view column; the
    // sqlite3 probe ends with t = {(1,'x'), (2,'q')}
    assert(sqawk(
      "CREATE TABLE iout(a, b); INSERT INTO iout VALUES (1,'x'),(2,'y'),(3,'z');" +
        "CREATE VIEW iouv AS SELECT a, b FROM iout;" +
        "CREATE TRIGGER iouu INSTEAD OF UPDATE OF b ON iouv " +
        "WHEN NEW.b <> 'skip' BEGIN " +
        "UPDATE iout SET b = NEW.b WHERE a = OLD.a; END;" +
        "CREATE TRIGGER ioud INSTEAD OF DELETE ON iouv BEGIN " +
        "DELETE FROM iout WHERE a = OLD.a; END;" +
        "UPDATE iouv SET b='q' WHERE a>=2;" +
        "UPDATE iouv SET b='skip' WHERE a=1;" +
        "DELETE FROM iouv WHERE a=3;" +
        "SELECT a, b FROM iout ORDER BY a", f) == (0, "1 x\n2 q\n"))
    // OLD binds the COMPUTED view column
    assert(sqawk(
      "CREATE TABLE ioct(a, b); INSERT INTO ioct VALUES (1,'x');" +
        "CREATE VIEW iocv AS SELECT a, b, a*100 AS c FROM ioct;" +
        "CREATE TRIGGER iocu INSTEAD OF UPDATE ON iocv BEGIN " +
        "UPDATE ioct SET b = NEW.b || OLD.c WHERE a = OLD.a; END;" +
        "UPDATE iocv SET b='q' WHERE a=1; SELECT b FROM ioct", f) == (0, "q100\n"))
    // partial column list: missing columns propose NULL
    assert(sqawk(
      "CREATE TABLE iopt(a, b);" +
        "CREATE VIEW iopv AS SELECT a, b FROM iopt;" +
        "CREATE TRIGGER iopi INSTEAD OF INSERT ON iopv BEGIN " +
        "INSERT INTO iopt VALUES (NEW.a, quote(NEW.b)); END;" +
        "INSERT INTO iopv(b) VALUES ('z');" +
        "SELECT coalesce(a,'<null>'), b FROM iopt", f) == (0, "<null> 'z'\n"))
    // two triggers fire newest-first, per row
    assert(sqawk(
      "CREATE TABLE iolg(s); CREATE TABLE iont(a);" +
        "CREATE VIEW ionv AS SELECT * FROM iont;" +
        "CREATE TRIGGER ion1 INSTEAD OF INSERT ON ionv BEGIN " +
        "INSERT INTO iolg VALUES ('first:'||NEW.a); END;" +
        "CREATE TRIGGER ion2 INSTEAD OF INSERT ON ionv BEGIN " +
        "INSERT INTO iolg VALUES ('second:'||NEW.a); END;" +
        "INSERT INTO ionv VALUES (1),(2); SELECT s FROM iolg", f) ==
      (0, "second:1\nfirst:1\nsecond:2\nfirst:2\n"))
    // RETURNING reports the PROPOSED row, not what the body stored
    assert(sqawk(
      "CREATE TABLE iort(a, b);" +
        "CREATE VIEW iorv AS SELECT a, b FROM iort;" +
        "CREATE TRIGGER iori INSTEAD OF INSERT ON iorv BEGIN " +
        "INSERT INTO iort VALUES (NEW.a*10, NEW.b); END;" +
        "INSERT INTO iorv VALUES (5,'z') RETURNING a, b", f) == (0, "5 z\n"))
  }

  test("INSTEAD OF trigger placement and fallthrough errors (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3: "cannot create INSTEAD OF trigger on table: t"
    val (c1, _) = sqawk(
      "CREATE TABLE iot1(a);" +
        "CREATE TRIGGER bad INSTEAD OF INSERT ON iot1 BEGIN SELECT 1; END", f)
    assert(c1 == 1)
    // view DML without a matching trigger still rejects...
    val (c2, _) = sqawk(
      "CREATE TABLE iot2(a); CREATE VIEW iov2 AS SELECT * FROM iot2;" +
        "INSERT INTO iov2 VALUES (1)", f)
    assert(c2 == 1)
    // ...including an UPDATE whose SET list misses the UPDATE OF cols
    val (c3, _) = sqawk(
      "CREATE TABLE iot3(a, b); INSERT INTO iot3 VALUES (1,'x');" +
        "CREATE VIEW iov3 AS SELECT a, b FROM iot3;" +
        "CREATE TRIGGER iou3 INSTEAD OF UPDATE OF b ON iov3 BEGIN " +
        "UPDATE iot3 SET b = NEW.b WHERE a = OLD.a; END;" +
        "UPDATE iov3 SET a=9 WHERE a=1", f)
    assert(c3 == 1)
    // DROP VIEW drops its triggers: the recreated view rejects DML
    val (c4, _) = sqawk(
      "CREATE TABLE iot4(a); CREATE VIEW iov4 AS SELECT * FROM iot4;" +
        "CREATE TRIGGER ioi4 INSTEAD OF INSERT ON iov4 BEGIN " +
        "INSERT INTO iot4 VALUES (NEW.a); END;" +
        "DROP VIEW iov4; CREATE VIEW iov4 AS SELECT * FROM iot4;" +
        "INSERT INTO iov4 VALUES (1)", f)
    assert(c4 == 1)
    // arity errors resolve before trigger dispatch
    val (c5, _) = sqawk(
      "CREATE TABLE iot5(a, b); CREATE VIEW iov5 AS SELECT a, b FROM iot5;" +
        "CREATE TRIGGER ioi5 INSTEAD OF INSERT ON iov5 BEGIN SELECT 1; END;" +
        "INSERT INTO iov5 VALUES (1,2,3)", f)
    assert(c5 == 1)
  }

  test("expression / COLLATE / partial UNIQUE indexes enforce (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // expression index: lower(a) — sqlite3: "UNIQUE constraint
    // failed: index 'eiu'" on the case-folded duplicate
    val (c1, _) = sqawk("CREATE TABLE e1(a, b);" +
      "CREATE UNIQUE INDEX eiu ON e1(lower(a));" +
      "INSERT INTO e1 VALUES ('X', 1); INSERT INTO e1 VALUES ('x', 2)", f)
    assert(c1 == 1)
    // COLLATE NOCASE column index: error names the column (t.a)
    val (c2, _) = sqawk("CREATE TABLE e2(a, b);" +
      "CREATE UNIQUE INDEX ec ON e2(a COLLATE NOCASE);" +
      "INSERT INTO e2 VALUES ('X', 1); INSERT INTO e2 VALUES ('x', 2)", f)
    assert(c2 == 1)
    // partial index: WHERE b > 0 exempts rows outside it — sqlite3
    // inserts (1,1),(1,0),(1,-1) then fails only on (1,5)
    assert(sqawk("CREATE TABLE e3(a, b);" +
      "CREATE UNIQUE INDEX ep ON e3(a) WHERE b > 0;" +
      "INSERT INTO e3 VALUES (1,1); INSERT INTO e3 VALUES (1,0);" +
      "INSERT INTO e3 VALUES (1,-1); SELECT count(*) FROM e3", f) ==
      (0, "3\n"))
    val (c3, _) = sqawk("CREATE TABLE e4(a, b);" +
      "CREATE UNIQUE INDEX ep ON e4(a) WHERE b > 0;" +
      "INSERT INTO e4 VALUES (1,1); INSERT INTO e4 VALUES (1,5)", f)
    assert(c3 == 1)
    // OR IGNORE respects the partial scope: the covered duplicate is
    // skipped, the exempt one inserts (sqlite3: count 2)
    assert(sqawk("CREATE TABLE e5(a, b);" +
      "CREATE UNIQUE INDEX ep ON e5(a) WHERE b > 0;" +
      "INSERT INTO e5 VALUES (1,1);" +
      "INSERT OR IGNORE INTO e5 VALUES (1,2),(1,0);" +
      "SELECT count(*) FROM e5", f) == (0, "2\n"))
    // unknown collation errors like sqlite3
    val (c4, _) = sqawk("CREATE TABLE e6(a);" +
      "CREATE UNIQUE INDEX ex ON e6(a COLLATE WRONG)", f)
    assert(c4 == 1)
    // creation over existing expression duplicates fails
    val (c5, _) = sqawk("CREATE TABLE e7(a);" +
      "INSERT INTO e7 VALUES ('Q'),('q');" +
      "CREATE UNIQUE INDEX eq ON e7(upper(a))", f)
    assert(c5 == 1)
  }

  test("sqlite_master lists script-created objects (sqlite3-pinned)") {
    val f = tempFile("x\n")
    // sqlite3 over the same script (ORDER BY name):
    //   index|iu|m1|CREATE UNIQUE INDEX iu ON m1(a)
    //   index|sqlite_autoindex_m2_1|m2|
    //   table|m1|m1|CREATE TABLE m1(a INTEGER, b TEXT)
    //   table|m2|m2|CREATE TABLE m2(x, UNIQUE(x))
    //   trigger|mtr|m1|CREATE TRIGGER mtr AFTER INSERT ON m1 BEGIN SELECT 1; END
    //   view|mv|mv|CREATE VIEW mv AS SELECT a FROM m1
    val (c, o) = sqawk(
      "CREATE TABLE m1(a INTEGER, b TEXT);" +
        "CREATE UNIQUE INDEX iu ON m1(a);" +
        "CREATE VIEW mv AS SELECT a FROM m1;" +
        "CREATE TRIGGER mtr AFTER INSERT ON m1 BEGIN SELECT 1; END;" +
        "CREATE TABLE m2(x, UNIQUE(x));" +
        "SELECT type, name, tbl_name, sql FROM sqlite_master ORDER BY name;" +
        "SELECT count(*) FROM sqlite_master WHERE type = 'table'", f)
    assert((c, o) == (0,
      "index iu m1 CREATE UNIQUE INDEX iu ON m1(a)\n" +
        "table m1 m1 CREATE TABLE m1(a INTEGER, b TEXT)\n" +
        "table m2 m2 CREATE TABLE m2(x, UNIQUE(x))\n" +
        "trigger mtr m1 CREATE TRIGGER mtr AFTER INSERT ON m1 BEGIN SELECT 1; END\n" +
        "view mv mv CREATE VIEW mv AS SELECT a FROM m1\n" +
        "index sqlite_autoindex_m2_1 m2 \n" +
        "2\n"))
  }

  test("UNIQUE key affinity: TEXT verbatim, int64 exact (sqlite3-pinned, round 8)") {
    // sqlite3: under TEXT affinity '100' and '100.0' are distinct
    // TEXT keys (both insert, count=2) …
    assert(sqawk("-noinput",
      "create table ta (a TEXT unique); insert into ta values ('100'); " +
        "insert into ta values ('100.0'); select count(*) from ta") == (0, "2\n"))
    // … while NUMERIC affinity converts both to INTEGER 100 → conflict
    assert(sqawk("-noinput",
      "create table tn (a NUMERIC unique); insert into tn values ('100'); " +
        "insert into tn values ('100.0')")._1 == 1)
    // INTEGER vs REAL storage of the same VALUE conflicts (values
    // compare numerically across storage classes)
    assert(sqawk("-noinput",
      "create table tc (a NUMERIC unique); insert into tc values (100); " +
        "insert into tc values (100.0)")._1 == 1)
    // int64 keys beyond 2^53 stay distinct — sqlite3 compares INTEGER
    // storage exactly; a double round-trip would merge these two
    assert(sqawk("-noinput",
      "create table tb (a unique); insert into tb values (9223372036854775806); " +
        "insert into tb values (9223372036854775807); " +
        "select count(*) from tb") == (0, "2\n"))
    // the TEXT-verbatim rule holds through UNIQUE INDEX creation too
    assert(sqawk("-noinput",
      "create table td (a TEXT); insert into td values ('100'), ('100.0'); " +
        "create unique index idu on td(a); select count(*) from td") == (0, "2\n"))
  }

  test("trigger splitter and OLD/NEW are literal-safe (sqlite3-pinned, round 8)") {
    // a body statement ending CASE…END with a string literal 'end'
    // must not split the trigger at the wrong ';' (the literal is not
    // an END token) — sqlite3 accepts and runs this script
    assert(sqawk("-noinput",
      "create table t8 (a); insert into t8 values (1); " +
        "create trigger tr8 after insert on t8 begin " +
        "update t8 set a = case when 1 then 'end' else 'x' end; end; " +
        "insert into t8 values (2); select a from t8") == (0, "end\nend\n"))
    // OLD./NEW. spelled INSIDE a string literal is text, not a name
    assert(sqawk("-noinput",
      "create table t9 (a); create table l9 (msg); " +
        "create trigger tr9 after insert on t9 begin " +
        "insert into l9 values ('NEW.a is set'); end; " +
        "insert into t9 values (7); select msg from l9") == (0, "NEW.a is set\n"))
    // … while the quoted-IDENTIFIER form NEW."a" still substitutes
    assert(sqawk("-noinput",
      "create table t10 (a); create table l10 (v); " +
        "create trigger tr10 after insert on t10 begin " +
        "insert into l10 values (new.\"a\"); end; " +
        "insert into t10 values (7); select v from l10") == (0, "7\n"))
  }

  /** Runs `body` with the named script tables absent before and after. */
  private def freshTables[T](names: String*)(body: => T): T = {
    names.foreach(spark.catalog.dropTempView)
    try body finally names.foreach(spark.catalog.dropTempView)
  }

  private val grid = "1 2 3\n4 5 6\n7 8 0\n"

  test("a comment holding WHERE inside an UPDATE SET list (sqlite3-pinned)") {
    assert(sqawk("update a set a2 = 9 /* where */ where anr = 1; select a2 from a",
      tempFile(grid)) == (0, "9\n5\n8\n"))
  }

  test("a comment holding a VALUES row (sqlite3-pinned)") {
    freshTables("t") {
      assert(sqawk("create table t(k, v); insert into t values (1, 'a') /* , (2, 'b') */; " +
        "select count(*) from t", tempFile(grid)) == (0, "1\n"))
    }
  }

  test("a comment inside a CREATE TABLE column list (sqlite3-pinned)") {
    freshTables("t") {
      assert(sqawk("create table t(k /* key, first */, v); insert into t values (1, 2); " +
        "select * from t", tempFile(grid)) == (0, "1 2\n"))
    }
  }

  test("a comment inside a RETURNING list (sqlite3-pinned)") {
    freshTables("u") {
      assert(sqawk("create table u(k integer primary key, v); " +
        "insert into u values (1, 'x') returning k /* , v */", tempFile(grid)) == (0, "1\n"))
    }
  }

  test("a bracket-quoted name in an INSERT column list (sqlite3-pinned)") {
    freshTables("t") {
      assert(sqawk("create table t(k, v); insert into t ([k], v) values (1, 2); " +
        "select k, v from t", tempFile(grid)) == (0, "1 2\n"))
    }
  }

  test("comments around statements and quoted SET targets (sqlite3-pinned)") {
    freshTables("t") {
      // a comment before a statement's first word, and a trailing
      // comment with no statement after it
      assert(sqawk("select 1; -- note\ncreate table t(k, v); insert into t values (1, 2); " +
        "select * from t", tempFile(grid)) == (0, "1\n1 2\n"))
      assert(sqawk("select a1 from a; -- trailing comment", tempFile(grid)) ==
        (0, "1\n4\n7\n"))
    }
    freshTables("t") {
      assert(sqawk("create table t(a, b); insert into t values (1, 2); " +
        "update t set [a] = 5 -- c\n; select * from t", tempFile(grid)) == (0, "5 2\n"))
    }
  }

  test("INSERT with a column list keeps untyped integers integer (sqlite3-pinned)") {
    // sqlite3 prints 0|1|integer: the 1 bound to the untyped b stays
    // an integer although the VALUES column also holds the real 0.5
    freshTables("t") {
      assert(sqawk("create table t(a, b); insert into t (a, b) values (-5, 0.5), (0, 1); " +
        "select a, b, typeof(a) from t", tempFile(grid)) ==
        (0, "-5 0.5 integer\n0 1 integer\n"))
    }
  }

  test("a comment between statement head words (sqlite3-pinned)") {
    freshTables("t") {
      assert(sqawk("create table t(k, v); insert into t /* c */ values (1, 2); " +
        "select * from t", tempFile(grid)) == (0, "1 2\n"))
    }
  }

  test("a bracket-quoted table name in statement heads (sqlite3-pinned)") {
    freshTables("t2") {
      assert(sqawk("create table [t2](k, v); insert into [t2] values (1, 2); " +
        "select * from t2", tempFile(grid)) == (0, "1 2\n"))
    }
  }

  test("a bracket-quoted table name in a plain query (sqlite3-pinned)") {
    freshTables("t2") {
      assert(sqawk("create table [t2](k, v); insert into [t2] values (1, 2); " +
        "select * from [t2]", tempFile(grid)) == (0, "1 2\n"))
    }
  }

  /** [[sqawk]] plus the lines it printed to stderr. */
  private def sqawkErr(args: String*): (Int, String, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val (code, out) = try sqawk(args: _*) finally System.setErr(saved)
    (code, out, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("an error prints as one line, without the analyzed plan") {
    val (code, _, lines) = sqawkErr("select nosuch from a", tempFile(grid))
    assert(code == 1)
    assert(lines.size == 1, lines.mkString("\n"))
    assert(lines.head.startsWith("error: [UNRESOLVED_COLUMN"), lines.head)
  }

  test("EXPLAIN answers with the physical plan") {
    val (c, o) = sqawk("explain select a1 from a where a2 > 1", tempFile(grid))
    assert(c == 0 && o.contains("Physical Plan"))
  }

  test("a one-split file plans GROUP BY and ORDER BY with no Exchange, in two jobs") {
    val f = tempFile((1 to 60).map(i => s"k${i % 7} $i").mkString("", "\n", "\n"))
    val q = "select a1, count(*) from a group by a1 order by a1"
    val (c, plan) = sqawk(s"explain $q", f)
    assert(c == 0 && plan.contains("Physical Plan") && !plan.contains("Exchange"), plan)
    // the stats job of the load, then the query itself
    val (out, jobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(sqawk(q, f))
    assert(out == (0, "k0 8\nk1 9\nk2 9\nk3 9\nk4 9\nk5 8\nk6 8\n"))
    assert(jobs == 2)
  }

  test("a one-row INSERT into a loaded table collects its batch once and probes storage once") {
    val f = tempFile("id\tname\tqty\tprice\n" +
      (1 to 3000).map(i => s"$i\tn${i % 17}\t${i % 50}\t${i % 999 + 1}\n").mkString)
    def jobs(script: String): Int = {
      val (out, n) = org.apache.spark.JobCounter.count(spark.sparkContext)(
        sqawk(script, "header=1", "FS=\t", f))
      assert(out == (0, "3001\n"), script)
      n
    }
    val ins = "insert into a (id, name, qty, price) values (3001, 'zz', 7, 1000); "
    // the load's stats job, then the count: 2 jobs without the INSERT.
    // The INSERT adds the batch collect and the stored max(anr) for
    // its autoassigned rowid; the rowid is never probed.
    assert(jobs(ins + "select count(*) from a") == 4)
    // CREATE UNIQUE INDEX checks the stored rows (1 job); the INSERT
    // adds one probe of the stored ids on top of the two above
    assert(jobs(s"create unique index i on a(id); ${ins}select count(*) from a") == 6)
  }

  test("a keyed UPDATE checks its keys from one collected frame; an UPSERT probes each keyset once") {
    val f = tempFile(grid)
    val setup = "create table t (k integer primary key, b, c); create unique index i1 on t(b); " +
      "create unique index i2 on t(lower(c)); insert into t values (1,1,'x'),(2,5,'y'),(3,9,'z')"
    def run(script: String): ((Int, String), Int) = freshTables("t") {
      org.apache.spark.JobCounter.count(spark.sparkContext)(sqawk(script, f))
    }
    // the load's stats job, the two index checks and the keyed INSERT
    assert(run(setup) == ((0, ""), 6))
    // the frame collect (3 jobs: the stored plan sorts by rowid) and
    // one select keying lower(c) for old and new rows alike
    for ((stmt, rows) <- Seq(
        "update t set b = b + 1 where k > 1" -> "1 1 x\n2 6 y\n3 10 z\n",
        "update t set k = k + 10 where k > 1" -> "1 1 x\n12 5 y\n13 9 z\n")) {
      assert(run(s"$setup; $stmt") == ((0, ""), 10), stmt)
      assert(run(s"$setup; $stmt; select * from t")._1 == ((0, rows)), stmt)
    }
    // the batch collect, the rounds and one probe each of b and
    // lower(c); the conflict target k is not assigned, so it is not
    // probed
    val upsert = "insert into t values (2, 7, 'q') on conflict(k) " +
      "do update set b = excluded.b, c = excluded.c"
    assert(run(s"$setup; $upsert") == ((0, ""), 21))
    assert(run(s"$setup; $upsert; select * from t")._1 == ((0, "1 1 x\n2 7 q\n3 9 z\n")))
    // an UPDATE that touches no keyset runs no constraint job
    val awk = tempFile("x 1\ny 2\nz 3\n")
    def awkJobs(script: String): ((Int, String), Int) =
      org.apache.spark.JobCounter.count(spark.sparkContext)(sqawk(script, awk))
    val sums = "select count(*), sum(a2) from a"
    assert(awkJobs(sums) == ((0, "3 6\n"), 2))
    assert(awkJobs(s"update a set a2 = a2 + 1 where a1 = 'x'; $sums") == ((0, "3 7\n"), 2))
  }

  test("UPDATE key errors: a transient collision, a BEFORE trigger's row (sqlite3-pinned)") {
    for (script <- Seq(
        "insert into t values (1, 1), (2, 2), (3, 3); update t set b = b + 1 where k >= 2",
        "insert into t values (1, 1); " +
          "create trigger tr before update on t begin insert into t values (9, 5); end; " +
          "update t set b = 5 where k = 1")) freshTables("t") {
      assert(sqawkErr("create table t (k integer primary key, b unique); " +
        s"$script; select b from t", tempFile(grid)) ==
        ((1, "", Seq("error: UNIQUE constraint failed: t.b"))), script)
    }
  }

  test("a composite PRIMARY KEY keeps key order in table_info and its errors (sqlite3-pinned)") {
    freshTables("t") {
      assert(sqawkErr("create table t (a, b, primary key (b, a)); pragma table_info(t); " +
        "insert into t values (1, 2); insert into t values (1, 2)", tempFile(grid)) ==
        ((1, "0 a  0  2\n1 b  0  1\n", Seq("error: UNIQUE constraint failed: t.b, t.a"))))
    }
    freshTables("t") {
      assert(sqawkErr("create table t (a, b, v, primary key (b, a)); " +
        "insert into t values (1, 2, 'p'), (2, 2, 'q'); update t set a = 3 - a", tempFile(grid)) ==
        ((1, "", Seq("error: UNIQUE constraint failed: t.b, t.a"))))
    }
  }

  test("EXPLAIN QUERY PLAN answers with the formatted plan") {
    val (c, o) = sqawk("explain query plan select a1 from a where a2 > 1", tempFile(grid))
    assert(c == 0 && o.contains("Physical Plan"))
  }

  test("join across two files (examples/hp, README.md:454)") {
    val md5 = tempFile("d41d8cd98f00b204e9800998ecf8427e  foo\nc157a79031e1c40f85931829bc5fc552  bar\n")
    val du = tempFile("0\tfoo\n4096\tbar\n")
    val (c, o) = sqawk(
      "select a1, b1 from a join b on a2 = b2 where b1 < 10000 order by b1",
      md5, "FS=\t", du)
    assert(c == 0)
    assert(o == "d41d8cd98f00b204e9800998ecf8427e 0\nc157a79031e1c40f85931829bc5fc552 4096\n")
  }

  test("keyed INSERT … SELECT of 1200 rows with duplicate keys (sqlite3-pinned)") {
    // a1 = i, a2 = 'r' || i for i in 1..1200; the proposed keys repeat
    // (and hold NULLs on the TEXT and composite keys), and each table
    // stores one row that the batch conflicts with
    val f = tempFile((1 to 1200).map(i => s"$i r$i\n").mkString)
    val fin = "select count(*), count(distinct v), sum(substr(v, 2)), min(v), max(v) from t"
    // (setup, proposed key columns, error key, rows OR IGNORE inserts,
    //  final contents after OR IGNORE, after OR REPLACE)
    val cases = Seq(
      ("create table t (k integer primary key, v); " +
        "insert into t values (5, 'r9005'), (1150, 'r9150')",
        "a1 % 1100", "t.k", (i: Int) => i <= 1100 && i != 5,
        "1101 1101 623700 r1 r999", "1101 1101 724700 r1000 r999"),
      ("create table t (k text primary key, v); " +
        "insert into t values ('k5', 'r9005'), (NULL, 'r9000')",
        "case when a1 % 100 = 0 then null else 'k' || (a1 % 1100) end", "t.k",
        (i: Int) => i % 100 == 0 || (i < 1100 && i != 5),
        "1102 1102 624750 r1 r999", "1102 1102 724650 r100 r999"),
      ("create table t (a, b, v, primary key (a, b)); " +
        "insert into t values (3, 10, 'r9003'), (1, NULL, 'r9001')",
        "a1 % 7, case when a1 % 50 = 0 then null else a1 % 150 end", "t.a, t.b",
        (i: Int) => i % 50 == 0 || (i <= 1050 && i != 10),
        "1054 1054 573219 r1 r999", "1054 1054 718576 r100 r999"))
    for ((setup, keys, errKey, ignored, afterIgnore, afterReplace) <- cases) {
      val ins = s"into t select $keys, a2 from a"
      def returned(script: String): (Seq[Int], String) = {
        val (c, o) = sqawk(s"$setup; insert $script returning v; $fin", f)
        assert(c == 0, script)
        val lines = o.linesIterator.toSeq
        (lines.init.map(_.stripPrefix("r").toInt).sorted, lines.last)
      }
      freshTables("t") {
        assert(returned(s"or ignore $ins") ==
          ((1 to 1200).filter(ignored), afterIgnore), setup)
      }
      freshTables("t") {
        assert(returned(s"or replace $ins") == ((1 to 1200), afterReplace), setup)
      }
      // the stored conflict and, on a fresh table, the in-batch one
      for (pre <- Seq(setup, setup.takeWhile(_ != ';'))) freshTables("t") {
        assert(sqawkErr(s"$pre; insert $ins; select 1", f) ==
          ((1, "", Seq(s"error: UNIQUE constraint failed: $errKey"))), pre)
      }
    }
  }
}
