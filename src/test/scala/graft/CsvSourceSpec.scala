package graft

import java.nio.file.Files

import graft.sources.CsvSource

/** read_csv option coverage: header/no-header, custom delimiter,
  * schema inference (reference: read_csv.rs named args + csv.slt). */
class CsvSourceSpec extends SparkSuite {

  private def write(content: String): String = {
    val p = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  test("header + inferred schema types the columns") {
    val path = write("id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    val df = CsvSource.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    val types = df.schema.fields.map(_.dataType.simpleString).toSeq
    assert(types == Seq("int", "string", "double"))
    assert(df.count() == 2)
  }

  test("custom delimiter and no header fall back to positional columns") {
    val path = write("1|alpha\n2|beta\n3|gamma\n")
    val df = CsvSource.read(spark, path, header = false, delim = "|")
    assert(df.columns.length == 2)
    assert(df.count() == 3)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("malformed rows: DROPMALFORMED drops exactly the planted rows, keeps all clean") {
    val path = "target/graft_csv/nation_bad_spec.csv"
    val bad = CsvSource.materializeNationCsvWithErrors(spark, sfDir, path)
    assert(bad > 0, "fixture planted no bad rows")
    val clean = graft.sources.Tables.load(spark, sfDir, "nation").count()
    val dropped = spark.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
      .option("header", "true").option("mode", "DROPMALFORMED").csv(path)
    // collect (not count): a bare count() reads no columns, so the
    // parser never sees the malformation — the documented Spark CSV
    // contract is that corrupt detection applies to PARSED columns
    assert(dropped.collect().length.toLong == clean,
      "survivors must be exactly the clean rows")
    // PERMISSIVE audit mode flags exactly the planted rows instead of dropping
    // materialize before inspecting the corrupt column: Spark rejects
    // plans that reference ONLY _corrupt_record on a raw CSV scan
    val audited = spark.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt_record STRING")
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").csv(path)
      .collect()
    assert(audited.count(!_.isNullAt(3)) == bad,
      "audit mode must flag every planted row")
  }
}
