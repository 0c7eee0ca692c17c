package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The gate runner's mode bodies on the shared test session at sf0.001:
  * gate selection, the verify and explain outputs, and the JSON escaper. */
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

  test("jsonString output parses back to the same string") {
    val mapper = new ObjectMapper()
    Seq("plain", "say \"hi\"", "C:\\dir\\", "two\nlines\r\n", "tab\there",
      "ctl\u0001\u001f", "Zürich – 東京 🚀", "").foreach { s =>
      assert(mapper.readValue(GateRunner.jsonString(s), classOf[String]) === s)
    }
    assert(GateRunner.jsonString("a\u0001") === "\"a\\u0001\"")
  }
}
