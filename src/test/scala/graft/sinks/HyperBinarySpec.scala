package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32C

import net.jpountz.lz4.LZ4Factory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The `.hyper` writer checked on its own output: every input is built
  * here, so the suite needs no file outside the repository. */
class HyperBinarySpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Raw CRC32C (init 0, no final inversion) from the JDK's standard
    * CRC32C: by linearity the two inversions cancel against the CRC of
    * as many zero bytes. Independent of [[HyperBinary.crc32cRaw]]. */
  private def rawCrc(b: Array[Byte], from: Int, until: Int): Int = {
    def std(bytes: Array[Byte], off: Int): Int = {
      val c = new CRC32C
      c.update(bytes, off, until - from)
      c.getValue.toInt
    }
    std(b, from) ^ std(new Array[Byte](until - from), 0)
  }

  private def emptyDf(fields: (String, DataType)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq.empty[Row], 1),
    StructType(fields.map { case (n, t) => StructField(n, t) }))

  test("LZ4 block codec round-trips arbitrary and repetitive payloads") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      "abc".getBytes,
      Array.fill(10000)((rnd.nextInt(4) + 'a').toByte), // compressible
      Array.fill(5000)(rnd.nextInt().toByte), // incompressible
      Array.fill(64)(0.toByte),
      ("header" + "x" * 300 + "header" + "y" * 300).getBytes)
    cases.foreach { payload =>
      val comp = Lz4Block.compress(payload)
      val (back, consumed) = Lz4Block.decompress(comp, 0, payload.length)
      assert(back.sameElements(payload), s"round-trip failed at len ${payload.length}")
      assert(consumed == comp.length)
    }
    // repetitive data genuinely compresses (matches emitted, not all-literal)
    val rep = ("the quick brown fox " * 500).getBytes
    assert(Lz4Block.compress(rep).length < rep.length / 10)
  }

  test("writer output round-trips schema, rows, and nulls bit-exactly") {
    val ts = java.sql.Timestamp.valueOf("2024-03-05 07:08:09.123456")
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("t", TimestampType),
      StructField("dt", DateType)))
    val rows = Seq(
      Row("héllo ~%{}", 1, 10000000000L, 2.5, true, ts, java.sql.Date.valueOf("2024-03-05")),
      Row(null, null, null, null, null, null, null),
      Row("", 0, -1L, -0.0, false, ts, java.sql.Date.valueOf("1969-12-31")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val small = Seq(("k", 7)).toDF("name", "n")
    val path = Files.createTempDirectory("hyperbin").resolve("out.hyper").toString
    HyperBinary.write(path, Seq("t1" -> df, "t2" -> small))

    val back = HyperBinary.read(path)
    assert(back.map(_._1) == Seq("t1", "t2"))
    val (_, schema1, rows1) = back.head
    assert(schema1.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(rows1.map(_.toSeq).toSeq == rows.map(_.toSeq))
    val (_, schema2, rows2) = back(1)
    assert(schema2.fieldNames.toSeq == Seq("name", "n") &&
      rows2.map(_.toSeq).toSeq == Seq(Seq("k", 7)))

    // nullCounts in the catalog reflect the data (observable-structure
    // fidelity: the artifact records real per-column null counts)
    val live = mapper.readTree(HyperBinary.catalogJsons(path).head)
    assert(live.get("relations").get(0).get("nullCounts").toString == "[1,1,1,1,1,1,1]")
  }

  test("decimal columns round-trip as Numeric(p,s); >18 digits error clearly") {
    val schema = StructType(Seq(
      StructField("k", StringType),
      StructField("amt", DecimalType(18, 2))))
    val rows = Seq(
      Row("a", new java.math.BigDecimal("12345.67")),
      Row("b", null),
      Row("c", new java.math.BigDecimal("-0.01")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val path = Files.createTempDirectory("hyperbin-dec").resolve("dec.hyper").toString
    HyperBinary.write(path, Seq("t" -> df))
    val (_, backSchema, backRows) = HyperBinary.read(path).head
    assert(backSchema("amt").dataType == DecimalType(18, 2))
    assert(backRows.map(_.toSeq).toSeq == rows.map(_.toSeq))
    // catalog carries the inferred Numeric type array
    assert(HyperBinary.catalogJsons(path).head.contains("""["Numeric", 18, 2, "nullable"]"""))

    val wide = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(new java.math.BigDecimal("1.5"))), 1),
      StructType(Seq(StructField("x", DecimalType(38, 10)))))
    val err = intercept[IllegalArgumentException] {
      HyperBinary.write(path, Seq("t" -> wide))
    }
    assert(err.getMessage.contains("18-digit"))
  }

  test("row cap: oversized exports error clearly, capped exports still round-trip") {
    import org.apache.spark.sql.functions.col
    val big = spark.range(0, 50).select(col("id"))
    val path = Files.createTempDirectory("hyperbin-cap").resolve("cap.hyper").toString
    val err = intercept[IllegalArgumentException] {
      HyperBinary.write(path, Seq("big" -> big.toDF()), maxRows = 49)
    }
    assert(err.getMessage.contains("export cap") && err.getMessage.contains("parquet"))
    // exactly at the cap is fine, and the bounded collect is a LIMIT —
    // no full materialization happened for the refused table either
    HyperBinary.write(path, Seq("big" -> big.toDF()), maxRows = 50)
    assert(HyperBinary.read(path).head._3.length == 50)
  }

  test("LZ4 block codec interoperates with lz4-java in both directions") {
    val lz4 = LZ4Factory.safeInstance()
    val rnd = new scala.util.Random(11)
    val text = ("SELECT company, COUNT(*) FROM sheet GROUP BY company; " * 400).getBytes
    val cases = Seq(
      "abc".getBytes,
      Array.fill(70000)((rnd.nextInt(3) + 'a').toByte), // matches past the 64 KiB window
      Array.fill(5000)(rnd.nextInt().toByte),
      Array.fill(300)(0.toByte),
      text,
      text.take(4000) ++ Array.fill(66000)(rnd.nextInt().toByte) ++ text.take(4000))
    cases.foreach { payload =>
      for (theirs <- Seq(lz4.fastCompressor().compress(payload),
          lz4.highCompressor().compress(payload))) {
        val (back, consumed) = Lz4Block.decompress(theirs, 0, payload.length)
        assert(back.sameElements(payload), s"lz4-java → Lz4Block at len ${payload.length}")
        assert(consumed == theirs.length)
      }
      val ours = Lz4Block.compress(payload)
      val back = new Array[Byte](payload.length)
      val n = lz4.safeDecompressor().decompress(ours, 0, ours.length, back, 0)
      assert(n == payload.length && back.sameElements(payload),
        s"Lz4Block → lz4-java at len ${payload.length}")
    }
  }

  test("catalog: live catalog + empty genesis copy; relation fields as recorded") {
    // the reference extract's two tables (hyperd.log CREATE TABLE trace);
    // the expected relation fields are the ones HYPER_FORMAT.md §2 records
    // for its catalog
    val t1 = emptyDf("index" -> StringType, "company" -> StringType,
      "product" -> StringType, "number_of_complaints" -> IntegerType)
    val t2 = emptyDf(
      "consumer_complaints.xlsx_company" -> StringType,
      "consumer_complaints.xlsx_number_of_complaints" -> IntegerType,
      "consumer_complaints1.xlsx_company" -> StringType,
      "consumer_complaints1.xlsx_number_of_complaints" -> IntegerType)
    val path = Files.createTempDirectory("hyperbin").resolve("golden.hyper").toString
    HyperBinary.write(path,
      Seq("complaint_counts_by_company" -> t1, "num_of_complaints_per_company" -> t2))

    val data = Files.readAllBytes(Paths.get(path))
    assert(new String(data, 0, 5, StandardCharsets.US_ASCII) == "Hyper")
    assert(data(5) == 8 && data(8) == 1)
    val catalogs = HyperBinary.catalogJsons(path)
    assert(catalogs.length == 2, "expected live catalog + genesis copy")
    val live = mapper.readTree(catalogs.head)
    val genesis = mapper.readTree(catalogs(1))
    assert(live.get("compressionMethod").asText() == "lz4")
    assert(genesis.get("relations").size() == 0, "genesis catalog is empty")

    val varchar = """["Varchar",1000,"nullable"]"""
    val integer = """["Integer","nullable"]"""
    val rels = live.get("relations")
    assert(rels.size() == 2)
    for ((name, types, r) <- Seq(
        ("complaint_counts_by_company", Seq(varchar, varchar, varchar, integer), 0),
        ("num_of_complaints_per_company", Seq(varchar, integer, varchar, integer), 1))) {
      val rel = rels.get(r)
      assert(rel.get("name").asText() == name)
      assert(rel.get("oid").asLong() == 10004L + r)
      assert(rel.get("owner").asLong() == 1L)
      assert(rel.get("parent").asLong() == 32L)
      assert(rel.get("partitionKey").asLong() == 4294967295L)
      assert(!rel.get("partitionedRelation").asBoolean())
      assert(rel.get("type").asText() == "block")
      val attrs = rel.get("attributes")
      assert((0 until attrs.size()).map(a => attrs.get(a).get("type").toString) == types)
      assert(rel.get("nullCounts").toString == "[0,0,0,0]")
    }
    assert(rels.get(0).get("attributes").get(0).get("name").asText() == "index")
    assert(rels.get(1).get("attributes").get(3).get("name").asText() ==
      "consumer_complaints1.xlsx_number_of_complaints")
  }

  test("CRC32C: raw variant matches the JDK's, and every frame of a written file verifies") {
    val rnd = new scala.util.Random(5)
    (Seq(0, 1, 4092) ++ Seq.fill(40)(rnd.nextInt(4093))).foreach { n =>
      val d = Array.fill(n)(rnd.nextInt().toByte)
      assert(HyperBinary.crc32cRaw(d) == rawCrc(d, 0, n), s"length $n")
    }

    val df = Seq(("a", 1L), ("b", 2L), (null, 3L)).toDF("s", "n")
    val small = Seq(("k", 7)).toDF("name", "n")
    val path = Files.createTempDirectory("hyperbin").resolve("crc.hyper").toString
    HyperBinary.write(path, Seq("t1" -> df, "t2" -> small))
    val data = Files.readAllBytes(Paths.get(path))
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    def frameAt(pos: Int, from: Int) =
      assert(buf.getInt(pos) == rawCrc(data, from, pos), s"frame at $pos over [$from, $pos)")

    // header pages: the last u32 frames the first 4092 bytes, so the
    // whole page CRCs to zero
    for (page <- Seq(0x0000, 0x1000)) {
      frameAt(page + 0x0ffc, page)
      assert(rawCrc(data, page, page + 0x1000) == 0)
    }
    // live catalog: JSON + '~', then the frame
    val Seq(liveJson, genesisJson) =
      HyperBinary.catalogJsons(path).map(_.getBytes(StandardCharsets.UTF_8).length)
    assert(data(0x2000 + liveJson) == '~')
    frameAt(0x2000 + liveJson + 1, 0x2000)
    // one data block per table: [u32 length][LZ4 stream][u32 frame], 16-aligned
    var pos = buf.getLong(0x48).toInt
    for (_ <- 0 until 2) {
      val (_, consumed) = Lz4Block.decompress(data, pos + 4, buf.getInt(pos))
      frameAt(pos + 4 + consumed, pos)
      pos = (pos + 4 + consumed + 4 + 15) / 16 * 16
    }
    // genesis block right after the data: header frame at +0x30, then the
    // genesis catalog at +0x40 (no '~') framed over the JSON alone
    val g = buf.getLong(0x50).toInt
    assert(g == pos)
    assert(new String(data, g, 8, StandardCharsets.US_ASCII) == "HyperDB\u0000")
    frameAt(g + 0x30, g)
    frameAt(g + 0x40 + genesisJson, g + 0x40)
    assert(data.length == g + 0x40 + genesisJson + 4)
  }

  test("type table: LongType is BigInt; an unmapped type fails with its name") {
    assert(HyperBinary.catalogType(LongType) == """["BigInt", "nullable"]""")
    val df = Seq((1, Seq(1L, 2L))).toDF("k", "xs")
    val path = Files.createTempDirectory("hyperbin-type").resolve("t.hyper").toString
    val err = intercept[IllegalArgumentException] {
      HyperBinary.write(path, Seq("t" -> df))
    }
    assert(err.getMessage.contains(ArrayType(LongType).sql))
  }

  test("the extract gets the file mode of any new file in its directory") {
    val dir = Files.createTempDirectory("hyperbin-mode")
    val path = dir.resolve("mode.hyper")
    HyperBinary.write(path.toString, Seq("t" -> Seq(1L, 2L).toDF("n")))
    val plain = Files.write(dir.resolve("plain.bin"), Array.emptyByteArray)
    assert(Files.getPosixFilePermissions(path) == Files.getPosixFilePermissions(plain))
  }

  test("a failed export keeps the previous extract readable") {
    val dir = Files.createTempDirectory("hyper-sink").resolve("out.hyper")
    val good = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    val sink = new HyperEquivalentSink()
    sink.write(dir.toString, Seq("t" -> good))
    val wide = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(new java.math.BigDecimal("1.5"))), 1),
      StructType(Seq(StructField("x", DecimalType(38, 10)))))
    intercept[IllegalArgumentException] {
      sink.write(dir.toString, Seq("t" -> wide))
    }
    val (name, _, rows) = HyperBinary.read(dir.resolve("extract.hyper").toString).head
    assert(name == "t" && rows.map(_.toSeq).toSeq == Seq(Seq("a", 1L), Seq("b", 2L)))
    assert(Files.list(dir).toArray.map(_.toString).toSeq ==
      Seq(dir.resolve("extract.hyper").toString))
  }
}
