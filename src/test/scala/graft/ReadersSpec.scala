package graft

import java.nio.file.{Files, Paths}
import graft.operators.Readers

/** Reader semantics vs the reference's header-dedup arithmetic
  * (`tests/collectors/test_local_lake.py:103-137`: 2 CSV files x 100
  * rows -> 200 data rows with exactly one header applied).
  */
class ReadersSpec extends SparkSpec {

  test("csv lake dedups per-file headers (W4/S4)") {
    val in = tmpDir("csv_lake")
    val header = "id,name,salary"
    (1 to 2).foreach { f =>
      val rows = (1 to 100).map(i => s"${f * 1000 + i},emp$i,${1000.0 + i}")
      Files.write(Paths.get(in.toString, s"part$f.csv"),
        (header +: rows).mkString("\n").getBytes("UTF-8"))
    }
    val df = Readers.csvLake(spark, in.toString)
    assert(df.count() == 200)                       // headers not counted as data
    assert(df.columns.toSeq == Seq("id", "name", "salary"))
    assert(df.filter(df("name") === "id").count() == 0) // no leaked header rows
  }

  test("whole-text records: one file = one record, empties skipped, mtime order sortable") {
    import org.apache.spark.sql.functions._
    val in = tmpDir("json_lake")
    (1 to 5).foreach { i =>
      val p = Paths.get(in.toString, s"doc$i.json")
      Files.write(p, s"""{"i":$i}""".getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    Files.write(Paths.get(in.toString, "empty.json"), Array.emptyByteArray)
    val df = Readers.wholeTextRecords(spark, in.toString, glob = Some("*.json"))
    assert(df.count() == 5)
    val ordered = df.orderBy(col("mtime")).select("content").collect().map(_.getString(0))
    assert(ordered.head == """{"i":1}""" && ordered.last == """{"i":5}""")
  }

  test("whole-text records spell each path as binaryFile does: space, plus and percent") {
    val in = tmpDir("escaped_names")
    val names = Seq("sp ace.json", "a+b.json", "100%.json")
    names.foreach(n => Files.write(Paths.get(in.toString, n), n.getBytes("UTF-8")))
    def paths(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.select("path").collect().map(_.getString(0))
        .map(p => p.split('/').last -> p).toMap
    val text = paths(Readers.wholeTextRecords(spark, in.toString))
    val binary = paths(spark.read.format("binaryFile").load(in.toString))
    assert(binary.keySet == names.toSet, s"binaryFile names: ${binary.keySet}")
    names.foreach(n => assert(text.get(n) == binary.get(n),
      s"$n: wholeTextRecords ${text.get(n)} vs binaryFile ${binary.get(n)}"))
  }

  test("tolerant scan skips corrupt files, strict scan fails (O1)") {
    val in = tmpDir("corrupt_lake")
    Files.write(Paths.get(in.toString, "ok.txt"), "good".getBytes("UTF-8"))
    // a .gz with garbage bytes: codec selected by extension, decode fails
    Files.write(Paths.get(in.toString, "bad.txt.gz"),
      Array[Byte](0x1f, 0x0b, 1, 2, 3, 4))
    val tolerant = Readers.wholeTextRecords(spark, in.toString, tolerant = true)
    assert(tolerant.select("content").collect().map(_.getString(0)).toSeq == Seq("good"))
    val strict = Readers.wholeTextRecords(spark, in.toString)
    assertThrows[org.apache.spark.SparkException](strict.collect())
  }

  test("config validation rejects bad inputs at construction (O4)") {
    import graft.operators.{CompactionConfig, FlushConfig}
    assertThrows[IllegalArgumentException](CompactionConfig("", "/out", 100))
    assertThrows[IllegalArgumentException](CompactionConfig("/in", "/out", 0))
    assertThrows[IllegalArgumentException](
      CompactionConfig("/in", "/out", 100, codec = Some("lz77")))
    assertThrows[IllegalArgumentException](FlushConfig("/a", "/a", "/ck"))
    assert(CompactionConfig("/in", "/out", 100, codec = Some("gzip")).targetBytes == 100)
  }

  test("json lake parses typed records") {
    val in = tmpDir("jsonl_lake")
    Files.write(Paths.get(in.toString, "a.json"),
      """[{"id":1,"tags":["x","y"]},{"id":2,"tags":[]}]""".getBytes("UTF-8"))
    val df = Readers.jsonLake(spark, in.toString)
    assert(df.count() == 2)
    assert(df.schema.fieldNames.contains("tags"))
  }
}
