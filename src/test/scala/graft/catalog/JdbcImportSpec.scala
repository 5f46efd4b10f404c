package graft.catalog

import java.sql.DriverManager

import graft.SparkSpec

/** Exercises [[ParquetCatalog.importJdbc]] against an embedded in-memory
  * Derby database (ships with Spark's jars) — a real JDBC round-trip:
  * DDL + inserts over java.sql, then a Spark JDBC scan into the parquet
  * catalog, both the serial and the partitioned-by-range form.
  */
class JdbcImportSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  private def withDb[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c)
    finally c.close()
  }

  private def seed(table: String, rows: Int): Unit = withDb { c =>
    val st = c.createStatement()
    try st.execute(s"DROP TABLE $table")
    catch { case _: java.sql.SQLException => () } // first run: no table
    st.execute(s"CREATE TABLE $table (id BIGINT NOT NULL, val DOUBLE, tag VARCHAR(16))")
    val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?)")
    (1 to rows).foreach { i =>
      ps.setLong(1, i.toLong)
      ps.setDouble(2, i * 0.5)
      ps.setString(3, s"t${i % 3}")
      ps.addBatch()
    }
    ps.executeBatch()
    st.close(); ps.close()
  }

  test("serial import lands all rows; VARCHAR column skipped by the reference type filter") {
    seed("items", 57)
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    cat.importJdbc("items", url, "items")
    val got = cat.load("items")
    assert(got.count() == 57)
    // SKIP_DATA_TYPES containment (fs:68,112): VARCHAR ⊃ "Char" → dropped
    assert(got.columns.map(_.toLowerCase).sorted.toSeq == Seq("id", "val"))
    val s = got.selectExpr("sum(id)").collect().head.getLong(0)
    assert(s == 57L * 58 / 2)
  }

  test("skipTypes = empty imports every column unfiltered") {
    seed("items_all", 12)
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    cat.importJdbc("items_all", url, "items_all", skipTypes = Set.empty)
    assert(cat.load("items_all").columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("id", "tag", "val"))
  }

  test("CHAR and BLOB columns are skipped; keepColumns overrides the filter") {
    withDb { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE mixed")
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE mixed (id BIGINT NOT NULL, score DOUBLE, " +
        "code CHAR(4), payload BLOB, tag VARCHAR(8))")
      val ps = c.prepareStatement("INSERT INTO mixed VALUES (?, ?, ?, ?, ?)")
      (1 to 9).foreach { i =>
        ps.setLong(1, i.toLong); ps.setDouble(2, i * 2.0)
        ps.setString(3, f"c$i%03d"); ps.setBytes(4, Array[Byte](i.toByte))
        ps.setString(5, s"t$i"); ps.addBatch()
      }
      ps.executeBatch(); st.close(); ps.close()
    }
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    cat.importJdbc("mixed", url, "mixed")
    assert(cat.load("mixed").columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("id", "score"), "CHAR/BLOB/VARCHAR must all be filtered")
    // the always-keep set wins over the type filter (fs:112 keeps `date`)
    cat.importJdbc("mixed_keep", url, "mixed", keepColumns = Set("date", "tag"))
    assert(cat.load("mixed_keep").columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("id", "score", "tag"))
  }

  test("a table whose every column matches a skip type fails fast with a clear message") {
    withDb { c =>
      val st = c.createStatement()
      try st.execute("DROP TABLE allchar")
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE allchar (a VARCHAR(8), b VARCHAR(8))")
      st.execute("INSERT INTO allchar VALUES ('x', 'y')")
      st.close()
    }
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    val e = intercept[IllegalArgumentException] {
      cat.importJdbc("allchar", url, "allchar")
    }
    // the zero-column select would otherwise die in the parquet writer
    // with an obscure empty-schema error (round-9 advice)
    assert(e.getMessage.toLowerCase.contains("skip"),
      s"error must name the skip filter, got: ${e.getMessage}")
  }

  test("partitioned import: auto-discovered bounds, range slices union to the table") {
    seed("facts", 200)
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    cat.importJdbc("facts", url, "facts",
      partitionColumn = Some("id"), numPartitions = 4)
    val got = cat.load("facts")
    assert(got.count() == 200)
    // every id exactly once: range predicates must partition, not overlap
    assert(got.select("id").distinct().count() == 200)
    // the parquet copy was written from a 4-slice scan
    assert(got.rdd.getNumPartitions >= 1)
  }

  test("partitioned import with explicit bounds matches serial content") {
    seed("facts2", 91)
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    cat.importJdbc("serial", url, "facts2")
    cat.importJdbc("sliced", url, "facts2",
      partitionColumn = Some("id"), bounds = Some((1L, 91L)), numPartitions = 3)
    val a = cat.load("serial").orderBy("id").collect().toSeq
    val b = cat.load("sliced").orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("empty table with auto bounds fails fast with a clear message") {
    seed("nothing", 0)
    val cat = new ParquetCatalog(spark, tempDir("jdbc_cat"))
    val e = intercept[IllegalArgumentException] {
      cat.importJdbc("nothing", url, "nothing", partitionColumn = Some("id"))
    }
    assert(e.getMessage.contains("bounds"))
  }
}
