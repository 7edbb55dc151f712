package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Formats

/** Interchange-format seams: ORC round-trip fidelity + partition pruning,
  * and the PERMISSIVE JSONL quarantine contract (malformed lines carry
  * their raw evidence; good lines parse bit-exact).
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("orcRoundTrip: bit-perfect fidelity, partition column rediscovered") {
    val df = Seq(
      (1L, "en", "alpha beta"), (2L, "fr", "gamma"), (3L, "en", "delta"))
      .toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-orc")
      .toString + "/t"
    val back = Formats.orcRoundTrip(df, path, "lang")
    // partition column comes back (last), values intact
    assert(back.columns.toSet == Set("doc_id", "lang", "text"))
    val cols = Seq("doc_id", "lang", "text").map(col)
    assert(back.select(cols: _*).except(df.select(cols: _*)).count() == 0)
    assert(df.select(cols: _*).except(back.select(cols: _*)).count() == 0)
  }

  test("orcRoundTrip: a partition-column filter prunes directories " +
    "before any ORC byte is read") {
    val df = (0L until 40L).map(i => (i, s"l${i % 4}", s"doc $i"))
      .toDF("doc_id", "lang", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-orc-prune")
      .toString + "/t"
    val back = Formats.orcRoundTrip(df, path, "lang")
    val plan = back.filter($"lang" === "l1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l1"),
      s"lang filter must land in PartitionFilters, plan was:\n$plan")
    assert(back.filter($"lang" === "l1").count() == 10)
  }

  test("jsonlQuarantineRead: malformed lines quarantined with raw " +
    "evidence, good lines parse bit-exact, nothing dropped") {
    val good = Seq(
      """{"doc_id":1,"lang":"en","text":"hello world"}""",
      """{"doc_id":2,"lang":"fr","text":"bonjour"}""")
    val bad = Seq(
      """{"doc_id":3,"lang":"en""", // truncated mid-object
      """not json at all""")
    val lines = (good ++ bad).toDF("line")
    val path = java.nio.file.Files.createTempDirectory("graft-jsonl")
      .toString + "/t"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    // Spark refuses scans whose referenced columns are ONLY the corrupt
    // column (the documented PERMISSIVE restriction) — read the full
    // frame once, assert in memory, exactly what the scaladoc tells
    // callers to do
    val rows = Formats.jsonlQuarantineRead(lines, path, schema)
      .select("doc_id", "lang", "text", "_corrupt_record")
      .as[(Option[Long], Option[String], Option[String], Option[String])]
      .collect().toSeq
    assert(rows.size == 4, "quarantine must keep every input line")
    val parsed = rows.filter(_._4.isEmpty)
      .map(r => (r._1.get, r._2.get, r._3.get)).toSet
    assert(parsed == Set((1L, "en", "hello world"), (2L, "fr", "bonjour")))
    // corrupt rows: all schema columns NULL, raw line preserved verbatim
    val corrupt = rows.filter(_._4.isDefined)
    assert(corrupt.forall(r => r._1.isEmpty && r._2.isEmpty && r._3.isEmpty))
    assert(corrupt.map(_._4.get).toSet == bad.toSet)
  }

  test("avroRoundTrip: fidelity across nulls, unicode, binary, booleans " +
    "and empty partitions; one container per partition") {
    val rows = Seq(
      (1L, Some("héllo ✓ wörld"), Some(2.5), Some(true),
        Some(Array[Byte](0, 1, -1, 127))),
      (2L, None, None, None, None),
      (3L, Some(""), Some(-0.0), Some(false), Some(Array.emptyByteArray)))
    val df = rows.toDF("id", "s", "d", "b", "bin").repartition(4) // > rows
    val path = java.nio.file.Files.createTempDirectory("graft-avro")
      .toString + "/t"
    val back = Formats.avroRoundTrip(df, path)
    assert(back.schema == df.schema)
    val got = back.orderBy("id")
      .as[(Long, Option[String], Option[Double], Option[Boolean],
        Option[Array[Byte]])]
      .collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got.map(_._2) == rows.map(_._2))
    assert(got.map(_._3) == rows.map(_._3))
    assert(got.map(_._4) == rows.map(_._4))
    assert(got.map(_._5.map(_.toSeq)) == rows.map(_._5.map(_.toSeq)))
    // one OCF per input partition, including the empty ones (a reader
    // must tolerate zero-record containers)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 4)
  }

  test("avroRoundTrip: unsupported column types and unsafe names are " +
    "rejected up front") {
    val arr = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    intercept[IllegalArgumentException](Formats.writeAvro(arr,
      java.nio.file.Files.createTempDirectory("graft-avro-bad").toString))
    val odd = Seq((1L, "x")).toDF("id", "weird name")
    intercept[IllegalArgumentException](Formats.writeAvro(odd,
      java.nio.file.Files.createTempDirectory("graft-avro-bad2").toString))
  }

  test("csvRoundTrip: commas, RFC quotes, embedded newline, and the " +
    "NULL vs empty-string distinction all survive") {
    val rows = Seq(
      (1L, "a,b"),                  // comma
      (2L, "say \"hi\" now"),       // quotes → "" escaping on disk
      (3L, "line1\nline2"),         // embedded newline (multi-line read)
      (4L, ""),                     // empty string — NOT null
      (5L, null.asInstanceOf[String]),
      (6L, "\\N")                   // literal backslash-N text ≠ null
    ).toDF("id", "v")
    val path = java.nio.file.Files.createTempDirectory("graft-csv")
      .toString + "/t"
    val back = Formats.csvRoundTrip(rows, path)
      .as[(Long, String)].collect().toMap
    assert(back(1L) == "a,b")
    assert(back(2L) == "say \"hi\" now")
    assert(back(3L) == "line1\nline2")
    assert(back(4L) == "")
    assert(back(5L) == null)
    // Spark csv writes the literal text \N identically to its null token;
    // the round trip canonicalizes it to null — the ONE documented lossy
    // cell shape of the seam (the quoted-empty trick distinguishes ''
    // but csv has no way to quote a null token). Pin it so it is a
    // contract, not a surprise.
    assert(back(6L) == null)
    assert(back.size == 6)
  }
}
