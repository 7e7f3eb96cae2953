package graft

/** Every declared query (SURVEY.md §2B) executes at sf0.001 with a
  * non-empty schema; oracle-paired correctness is the driver's DuckDB
  * compare (tools/oracle_check.py) — this suite guards execution.
  */
class SmokeSpec extends SparkSpec {

  test("registry has no duplicate names and every entry declares columns") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size >= 42, s"expected full §2B surface, got ${names.size}")
  }

  // One-off measurement mains with hard-coded masters have crept into the
  // production jar before. Plan capture lives in src/test (graft.Plans);
  // per-op jobs, verb and read metrics come from perfbench --trace 1.
  test("src/main ships only the driver's and the gates' mains") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"$root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    val template = ("""(?m)^( *)(?:(?:private|final|case)\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r
    val main = """(?m)^( *)def\s+main\s*\(""".r
    val app = """\bobject\s+(\w+)\s+extends\s+App\b""".r
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      // a main belongs to the nearest template above it that is indented
      // less, i.e. the one enclosing it rather than a sibling
      main.findAllMatchIn(src).map { m =>
        template.findAllMatchIn(src.substring(0, m.start)).toSeq
          .filter(_.group(1).length < m.group(1).length).last.group(2)
      } ++ app.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(mains == Set("Bench", "Verify", "Hammer", "Stress"))
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Fixture-drift tripwire: the r9 fixtures silently changed events.ts from
  // TIMESTAMP(NANOS) to TIMESTAMP(MICROS); the stale ns→µs conversion then
  // compressed 30 days of events into ~43 minutes on 1970-01-20 and took out
  // every events-reading query. Pin the fixture's physical shape here so any
  // future dtype drift fails loudly in-repo instead of only at the oracle.
  test("legacy TIMESTAMP(NANOS) events read converts losslessly via DIV 1000") {
    // a real nanos-annotated parquet (written by pyarrow; Spark cannot
    // produce one) pins the legacy branch: the footer probe reads the ts
    // column's own logical-type annotation, must classify NANOS as
    // non-native, and the raw-long DIV-1000 conversion must yield the
    // original instants.
    // 100 events at 8h spacing from 2024-01-01 → 33-day span.
    val dir = getClass.getResource("/nanos-events").getPath
    assert(!Tables.eventsTsIsNativeMicros(spark, dir),
      "nanos footer misclassified as native micros")
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    import org.apache.spark.sql.functions.{max, min}
    val r = ev.agg(min("ts"), max("ts")).head()
    assert(r.getTimestamp(0).toInstant.toString == "2024-01-01T00:00:00Z",
      s"got ${r.getTimestamp(0).toInstant}")
    assert(r.getTimestamp(1).toInstant.toString == "2024-02-03T00:00:00Z",
      s"got ${r.getTimestamp(1).toInstant}")
    assert(ev.count() == 100)
  }

  test("footer probe handles a directory-shaped events table") {
    // Spark-written tables are directories of part files; the probe must
    // find a data file inside and read ITS footer annotation
    val dir = java.nio.file.Files.createTempDirectory("graft-evdir").toString
    Tables(spark, sfDir, "events").limit(10)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // Spark writes INT96 timestamps by default — no logical annotation,
    // must still classify as native (INT96 maps to TimestampType)
    assert(Tables.eventsTsIsNativeMicros(spark, dir),
      "Spark-written directory misclassified")
    val back = Tables(spark, dir, "events")
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.count() == 10)
    assert(back.agg(org.apache.spark.sql.functions.min("ts")).head()
      .getTimestamp(0).toInstant.toString.startsWith("2024-01"))
  }

  test("events fixture tripwire: ts spans > 25 days and starts in 2024") {
    import org.apache.spark.sql.functions.{max, min, year}
    val ev = Tables(spark, sfDir, "events")
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType, "events.ts must read as TimestampType")
    val r = ev.agg(min("ts").as("lo"), max("ts").as("hi"),
      year(min("ts")).as("y")).head()
    val spanDays = (r.getTimestamp(1).getTime - r.getTimestamp(0).getTime) / 86400000.0
    assert(spanDays > 25.0, f"events.ts span is $spanDays%.2f days — fixture dtype drift?")
    assert(r.getInt(2) == 2024, s"events.ts min year is ${r.getInt(2)}, expected 2024")
  }

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.fn(spark, sfDir)
      assert(df.schema.fields.nonEmpty, s"${q.name}: empty schema")
      assert(df.count() >= 0)
    }
  }
}
