package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The `.tbl` fixtures under test/resources/tbl were produced by the
  * REFERENCE's own classes (qp.utils.Tuple / qp.utils.Batch compiled from
  * /root/reference/src and serialized through ObjectOutputStream exactly
  * like ConvertTxtToTbl.java:29-73 / TupleWriter.java:46-86), so these
  * tests assert byte-level compatibility with the real format, parsed by
  * our self-contained stream reader (no reference classes involved).
  */
class TblSourceSpec extends AnyFunSuite with SparkTestBase {

  private def res(name: String): String =
    getClass.getResource(s"/tbl/$name").getPath

  private def rowsOf(name: String): Seq[Seq[Any]] = {
    val in = new java.io.FileInputStream(res(name))
    try TblSource.readRows(in) finally in.close()
  }

  test("reads the ConvertTxtToTbl tuple-stream layout") {
    val rows = rowsOf("sample.tbl")
    assert(rows.length == 7)
    assert(rows.head == Seq(0, 0, "first0", "last0", "addr0"))
    assert(rows(6) == Seq(6, 0, "first6", "last6", "addr0"))
  }

  test("reads the TupleWriter batch-stream layout (incl. partial last batch)") {
    val rows = rowsOf("batched.tbl")
    assert(rows.length == 7)
    assert(rows(1) == Seq(1, 1.5f, "s1"))
    assert(rows(6) == Seq(6, 9.0f, "s6"))
  }

  test("the connector applies the .det catalog to a .tbl and yields a typed DataFrame") {
    // <name>.det + <name>.tbl side by side in the resource directory
    def load(name: String) = spark.read.format("graft.sources.DetDataSource")
      .load(res(s"$name.det").stripSuffix(".det"))
    val df = load("sample")
    assert(df.schema.fieldNames.toSeq ==
      Seq("cid", "gender", "firstname", "lastname", "address"))
    assert(df.count() == 7)
    assert(df.filter(df("gender") === 1).count() == 3)
    val batched = load("batched")
    assert(batched.schema.fields(1).dataType.typeName == "float")
    assert(batched.agg(org.apache.spark.sql.functions.sum("score")).first().getDouble(0) == 31.5)
  }

  test("empty Batch pages contribute zero rows, not phantom rows") {
    // edge.tbl (written by the reference's Batch class): a full page, an
    // EMPTY page, then a 1-row page — 4 rows total
    val rows = rowsOf("edge.tbl")
    assert(rows.length == 4)
    assert(rows(1) == Seq(1, -1.25f, "v1"))
    assert(rows(3) == Seq(99, 7.5f, "tail"))
  }

  test("reads the serialized .md catalog (qp.utils.Schema)") {
    // sample.md was serialized by the reference's own Schema/Attribute
    // classes: (cid INT, gender INT, firstname STRING, score REAL)
    val st = TblSource.readMdSchema(res("sample.md"))
    assert(st.fieldNames.toSeq == Seq("cid", "gender", "firstname", "score"))
    assert(st.fields.map(_.dataType.typeName).toSeq ==
      Seq("integer", "integer", "string", "float"))
  }

  test("QueryRunner discovers reference-format tables and runs the dialect on them") {
    // a directory holding ONLY reference-engine files (.tbl + .md,
    // .tbl + .det, .det + .txt) must be queryable through the dialect CLI
    // path with no conversion step
    val dir = java.nio.file.Files.createTempDirectory("mixed-tables")
    def cp(from: String, to: String): Unit =
      java.nio.file.Files.copy(java.nio.file.Paths.get(res(from)),
        dir.resolve(to))
    cp("batched.tbl", "T1.tbl"); cp("batched.det", "T1.det")
    cp("md_table.tbl", "T2.tbl"); cp("md_table.md", "T2.md")
    cp("sample.det", "T3.det")
    java.nio.file.Files.writeString(dir.resolve("T3.txt"),
      "1\t0\tfoo\tbar\taddr\t\n2\t1\tbaz\tqux\tother\t")
    val tables = graft.dialect.QueryRunner.loadTables(spark, dir.toString)
    assert(tables.keySet == Set("T1", "T2", "T3"))
    assert(tables("T1").count() == 7 && tables("T2").count() == 6
      && tables("T3").count() == 2)
    val got = graft.dialect.Translator.run(spark,
      "SELECT T2.cid,T2.score FROM T2 WHERE T2.gender=\"1\"", tables)
      .collect().map(r => (r.getInt(0), r.getFloat(1))).toSet
    assert(got == Set((1, 0.5f), (3, 1.5f), (5, 2.5f)))
  }
}
