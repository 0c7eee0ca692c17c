package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The gate runner's mode bodies on the shared test session at sf0.001:
  * gate selection, the verify, explain, time and profile outputs, and
  * the JSON escaper. */
class GateRunnerSpec extends SparkSpec {

  private val two = "q01_filter_project,q03_group_multi"

  private def withTempDir[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("graft-gates")
    try f(dir)
    finally {
      def rm(p: java.io.File): Unit = {
        val cs = p.listFiles(); if (cs != null) cs.foreach(rm); p.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("verify writes only the listed gates and their oracle SQL") {
    withTempDir { dir =>
      val out = dir.resolve("v")
      GateRunner.verify(spark, sf(), out.toString, Some(two))
      val dirs = out.toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(dirs === Set("q01_filter_project", "q03_group_multi"))
      val json = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      assert(json.fieldNames().asScala.toSet ===
        Set("q01_filter_project", "q03_group_multi"))
      assert(json.get("q01_filter_project").asText() ===
        SparkEntry.oracleSql("q01_filter_project"))
      assert(spark.read.parquet(out.resolve("q03_group_multi").toString).count() ===
        SparkEntry.queries("q03_group_multi")(spark, sf()).count())
    }
  }

  test("an unknown gate name throws, names the gate, and writes nothing") {
    withTempDir { dir =>
      val out = dir.resolve("v")
      val e = intercept[IllegalArgumentException] {
        GateRunner.verify(spark, sf(), out.toString,
          Some("q01_filter_project,no_such_gate"))
      }
      assert(e.getMessage.contains("no_such_gate"))
      assert(!Files.exists(out))
      val md = dir.resolve("plans.md")
      intercept[IllegalArgumentException] {
        GateRunner.explain(spark, sf(), md.toString, Some("no_such_gate"))
      }
      assert(!Files.exists(md))
    }
  }

  test("explain keeps the preamble and writes one section per gate") {
    withTempDir { dir =>
      val md = dir.resolve("plans.md")
      val preamble = "# Plans\n\nIntro text.\n\n"
      Files.writeString(md, preamble + "## stale_gate\n\n```\nold\n```\n")
      GateRunner.explain(spark, sf(), md.toString, Some(two))
      val text = Files.readString(md)
      assert(text.startsWith(preamble))
      val headings = text.linesIterator.filter(_.startsWith("## ")).toSeq
      assert(headings === Seq("## q01_filter_project", "## q03_group_multi"))
      assert(text.contains("Scan parquet"))
    }
  }

  test("time measures the listed gates, emits one JSON line, writes no hints") {
    withTempDir { dir =>
      val hints = dir.resolve("hints.json")
      val onFile = """{"q01_filter_project":0.5,"q03_group_multi":0.25}"""
      Files.writeString(hints, onFile)
      val t = new GateRunner.Timing(sf(), hints.toString, Some(two),
        runs = 1, budgetS = 480)
      val expired = GateRunner.time(spark, t)
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf) { t.emit(expired); t.emit(expired) } // prints once
      val lines = buf.toString("UTF-8").linesIterator.toSeq
      assert(lines.size === 1)
      val json = new ObjectMapper().readTree(lines.head)
      assert(json.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
        "runs", "sf", "n_queries", "queries", "errors", "skipped", "fixtures",
        "contention", "budget_expired", "refine_truncated", "elapsed", "slowest"))
      assert(json.get("queries").fieldNames().asScala.toSet ===
        Set("q01_filter_project", "q03_group_multi"))
      assert(json.get("n_queries").asInt() === 2)
      assert(json.get("errors").size() === 0 && json.get("skipped").size() === 0)
      assert(!json.get("budget_expired").asBoolean())
      assert(json.get("contention").has("quiet"))
      // a listed run is a targeted re-measurement: the hints stay as they were
      assert(Files.readString(hints) === onFile)
    }
  }

  test("profile prints one section per listed gate") {
    val buf = new java.io.ByteArrayOutputStream()
    val report = Console.withOut(buf)(GateRunner.profile(spark, sf(), Some(two)))
    val sections = report.linesIterator.filter(_.startsWith("== ")).toSeq
    assert(sections.map(_.split("\\s+")(1)) ===
      Seq("q01_filter_project", "q03_group_multi"))
    assert(sections.forall(_.contains("wall=")), report)
    assert(buf.toString("UTF-8") === report)
  }

  test("jsonString output parses back to the same string") {
    val mapper = new ObjectMapper()
    Seq("plain", "say \"hi\"", "C:\\dir\\", "two\nlines\r\n", "tab\there",
      "ctl\u0001\u001f", "Zürich – 東京 🚀", "").foreach { s =>
      assert(mapper.readValue(GateRunner.jsonString(s), classOf[String]) === s)
    }
    assert(GateRunner.jsonString("a\u0001") === "\"a\\u0001\"")
  }
}
