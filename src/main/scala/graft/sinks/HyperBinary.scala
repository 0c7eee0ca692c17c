package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Standalone LZ4 *block* codec (the public block format from lz4.org:
  * token byte = literal-length nibble | match-length nibble, 255-run
  * length extensions, 16-bit little-endian match offsets). Implemented
  * from the published spec — the `.hyper` container declares
  * `"compressionMethod": "lz4"` and its data blocks decode with exactly
  * this algorithm (HYPER_FORMAT.md). HyperBinarySpec cross-checks it
  * against lz4-java in both directions.
  */
object Lz4Block {

  /** Greedy single-probe hash-table compressor. Honors the spec's end
    * rules (last 5 bytes literal, no match starting in the last 12), so
    * any conforming decoder reads the output.
    */
  def compress(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length + src.length / 255 + 16)
    val n = src.length
    val table = new Array[Int](1 << 14)
    java.util.Arrays.fill(table, -1)
    def hash(i: Int): Int = {
      val v = (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8) |
        ((src(i + 2) & 0xff) << 16) | ((src(i + 3) & 0xff) << 24)
      (v * -1640531535) >>> 18
    }
    def writeSeq(litFrom: Int, litLen: Int, matchLen: Int, offset: Int): Unit = {
      val mlBase = matchLen - 4 // -4 encodes "no match" (final literals)
      val token = (math.min(litLen, 15) << 4) | (if (matchLen < 4) 0 else math.min(mlBase, 15))
      out.write(token)
      if (litLen >= 15) {
        var r = litLen - 15
        while (r >= 255) { out.write(255); r -= 255 }
        out.write(r)
      }
      out.write(src, litFrom, litLen)
      if (matchLen >= 4) {
        out.write(offset & 0xff)
        out.write((offset >> 8) & 0xff)
        if (mlBase >= 15) {
          var r = mlBase - 15
          while (r >= 255) { out.write(255); r -= 255 }
          out.write(r)
        }
      }
    }
    var anchor = 0
    var i = 0
    val mfLimit = n - 12
    while (i < mfLimit) {
      val h = hash(i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 0xffff &&
          src(cand) == src(i) && src(cand + 1) == src(i + 1) &&
          src(cand + 2) == src(i + 2) && src(cand + 3) == src(i + 3)) {
        var ml = 4
        val maxMl = n - 5 - i // last 5 bytes must stay literal
        while (ml < maxMl && src(cand + ml) == src(i + ml)) ml += 1
        if (ml >= 4) {
          writeSeq(anchor, i - anchor, ml, i - cand)
          i += ml
          anchor = i
        } else i += 1
      } else i += 1
    }
    writeSeq(anchor, n - anchor, 0, 0)
    out.toByteArray
  }

  /** Decompress from `src(from)` until exactly `outLen` bytes are
    * produced. Returns (payload, compressed bytes consumed) — the
    * artifact's blocks carry an uncompressed-length prefix and no
    * compressed length, so decoding is output-driven.
    */
  def decompress(src: Array[Byte], from: Int, outLen: Int): (Array[Byte], Int) = {
    val out = new Array[Byte](outLen)
    var o = 0
    var i = from
    while (o < outLen) {
      val token = src(i) & 0xff; i += 1
      var lit = token >>> 4
      if (lit == 15) {
        var b = 0
        do { b = src(i) & 0xff; i += 1; lit += b } while (b == 255)
      }
      System.arraycopy(src, i, out, o, lit); i += lit; o += lit
      if (o < outLen) {
        val off = (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8); i += 2
        var ml = token & 15
        if (ml == 15) {
          var b = 0
          do { b = src(i) & 0xff; i += 1; ml += b } while (b == 255)
        }
        ml += 4
        var k = 0
        while (k < ml) { out(o) = out(o - off); o += 1; k += 1 }
      }
    }
    (out, i - from)
  }
}

/** Binary `.hyper` container writer/reader, and the one Spark → Hyper
  * type table ([[catalogType]]). The structure was read from the
  * reference's committed `complaints_by_bank.hyper` and the DDL/COPY
  * trace in its `hyperd.log` (reference query_iterator.py:170-195);
  * HYPER_FORMAT.md records the byte map. The container holds —
  *
  *   - "Hyper\x08\x00\x00\x01" header page with u64 section offsets,
  *   - the catalog in the artifact's JSON schema (namespaces / roles /
  *     relations / attributes / typed columns / nullCounts),
  *     '~'-terminated, CRC32C-framed, at offset 0x2000,
  *   - one LZ4 block per table ([u32 uncompressed length][LZ4 stream]
  *     [u32 frame]; row count + column offsets + null bitmaps + column
  *     data + string heap inside),
  *   - the "HyperDB\0" genesis block holding the empty-catalog copy,
  *
  * — and files written here round-trip bit-exactly through [[read]].
  * Every frame is raw CRC32C (see [[crc32cRaw]]). The table blocks use
  * this writer's own layout, not hyperd's native column encodings or its
  * object index, so the real hyperd cannot open the file.
  */
object HyperBinary {

  private val Magic = Array[Byte]('H', 'y', 'p', 'e', 'r', 8, 0, 0, 1)
  private val CatalogOffset = 0x2000

  /** Catalog JSON type array for a Spark type. "Varchar" and "Integer"
    * are observed verbatim in the artifact; the remaining names follow
    * the same convention and are marked inferred in HYPER_FORMAT.md.
    */
  def catalogType(dt: DataType): String = dt match {
    case StringType => """["Varchar", 1000, "nullable"]"""
    case IntegerType | ShortType | ByteType => """["Integer", "nullable"]"""
    case LongType => """["BigInt", "nullable"]"""
    case DoubleType | FloatType => """["Double", "nullable"]"""
    case BooleanType => """["Bool", "nullable"]"""
    case TimestampType => """["Timestamp", "nullable"]"""
    case DateType => """["Date", "nullable"]"""
    // "Numeric" follows the hyperd DDL type set's naming convention
    // (inferred — the artifact never emits a decimal); values are stored
    // as unscaled 64-bit integers, so precision is capped at 18
    case d: DecimalType if d.precision <= 18 =>
      s"""["Numeric", ${d.precision}, ${d.scale}, "nullable"]"""
    case d: DecimalType => throw new IllegalArgumentException(
      s"HyperBinary: DECIMAL(${d.precision},${d.scale}) exceeds the " +
        "18-digit unscaled-long encoding; cast to DECIMAL(18, s) or DOUBLE first")
    case other => throw new IllegalArgumentException(
      s"HyperBinary: no catalog type for Spark type ${other.sql}; " +
        "cast the column to a supported primitive first")
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The artifact's catalog JSON schema, field-for-field (observed at
    * offset 0x2000 of complaints_by_bank.hyper): fixed namespaces/roles
    * preamble, then one relation per table with attributes, nullCounts,
    * and the block-storage markers.
    */
  private[sinks] def catalogJson(tables: Seq[(String, StructType, Array[Long])]): String = {
    val relations = tables.zipWithIndex.map { case ((name, schema, nullCounts), i) =>
      val attrs = schema.fields.map { f =>
        s"""{"name": "${jsonEscape(f.name)}", "type": ${catalogType(f.dataType)}}"""
      }.mkString("[", ", ", "]")
      s"""{"oid": ${10004 + i}, "name": "${jsonEscape(name)}", "owner": 1, """ +
        """"dependencies": [], "reverseDependencies": [], "parent": 32, """ +
        s""""attributes": $attrs, "nullCounts": ${nullCounts.mkString("[", ", ", "]")}, """ +
        """"partitionKey": 4294967295, "partitionedRelation": false, "type": "block"}"""
    }.mkString("[", ", ", "]")
    """{"compressionMethod": "lz4", "encryptionSchemeId": 0, """ +
      """"databases": {"dropped": true}, """ +
      """"namespaces": [{"oid": 10001, "name": "public", "owner": 0, "dependencies": [], "reverseDependencies": []}], """ +
      """"roles": [{"oid": 10002, "name": "", "owner": 0, "dependencies": [], "reverseDependencies": [], "superuser": false, "createdb": false, "createrole": false, "inherit": true, "login": false, "validUntil": 0, "memberOf": [], "adminOf": [], "connlimit": 4294967295, "replication": false, "hasPassword": false, "password": "", "encrypted": true}, """ +
      """{"oid": 10003, "name": "tableau_internal_user", "owner": 0, "dependencies": [], "reverseDependencies": [], "superuser": true, "createdb": false, "createrole": false, "inherit": true, "login": true, "validUntil": 0, "memberOf": [], "adminOf": [], "connlimit": 4294967295, "replication": false, "hasPassword": false, "password": "", "encrypted": true}], """ +
      s""""relations": $relations, """ +
      """"externaltables": [], "views": [], "functions": [], "types": [], "aggregates": [], "sequences": []}"""
  }

  /** Raw CRC32C (Castagnoli, reflected, poly 0x1EDC6F41) with NO
    * pre/post inversion — the engine's 32-bit frame algorithm, identified
    * against every frame value in the committed artifact (HYPER_FORMAT.md
    * §3). Stored little-endian at a span's end, it makes the span CRC to
    * zero, which is how the header pages verify themselves.
    */
  private val crc32cTable: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) {
      c = if ((c & 1) != 0) (c >>> 1) ^ 0x82F63B78 else c >>> 1
      k += 1
    }
    c
  }

  private[sinks] def crc32cRaw(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c = crc32cTable((c ^ bytes(i)) & 0xff) ^ (c >>> 8)
      i += 1
    }
    c
  }

  private[sinks] def crc32cRaw(bytes: Array[Byte]): Int =
    crc32cRaw(bytes, 0, bytes.length)

  // ---- table block encoding --------------------------------------------

  /** Encode one table's rows as the uncompressed block payload:
    * u64 rowCount, u64 nCols, per-column u64 offset (block-relative),
    * each column = null bitmap (bit set ⇒ null) + fixed-width values or
    * (for Varchar) u32 lengths + concatenated UTF-8 heap.
    */
  private def encodeBlock(schema: StructType, rows: Array[org.apache.spark.sql.Row]): Array[Byte] = {
    val nCols = schema.fields.length
    val header = 8 + 8 + 8 * nCols
    val cols = schema.fields.zipWithIndex.map { case (f, c) =>
      val bitmap = new Array[Byte]((rows.length + 7) / 8)
      rows.zipWithIndex.foreach { case (r, i) =>
        if (r.isNullAt(c)) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
      }
      val body = f.dataType match {
        case StringType =>
          val utf8 = rows.map(r =>
            if (r.isNullAt(c)) Array.emptyByteArray
            else r.getString(c).getBytes(StandardCharsets.UTF_8))
          val b = ByteBuffer.allocate(4 * rows.length + utf8.map(_.length).sum)
            .order(ByteOrder.LITTLE_ENDIAN)
          utf8.foreach(u => b.putInt(u.length))
          utf8.foreach(b.put)
          b.array()
        case _ =>
          val width = f.dataType match {
            case IntegerType | ShortType | ByteType | DateType => 4
            case BooleanType => 1
            case _ => 8
          }
          val b = ByteBuffer.allocate(width * rows.length).order(ByteOrder.LITTLE_ENDIAN)
          rows.zipWithIndex.foreach { case (r, i) =>
            if (r.isNullAt(c)) { var k = 0; while (k < width) { b.put(0: Byte); k += 1 } }
            else f.dataType match {
              case IntegerType => b.putInt(r.getInt(c))
              case ShortType => b.putInt(r.getShort(c).toInt)
              case ByteType => b.putInt(r.getByte(c).toInt)
              case LongType => b.putLong(r.getLong(c))
              case DoubleType => b.putLong(java.lang.Double.doubleToLongBits(r.getDouble(c)))
              case FloatType => b.putLong(java.lang.Double.doubleToLongBits(r.getFloat(c).toDouble))
              case BooleanType => b.put(if (r.getBoolean(c)) 1: Byte else 0: Byte)
              case TimestampType =>
                val t = r.getTimestamp(c)
                // floorDiv: exact for pre-1970 instants too
                b.putLong(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
              case DateType => b.putInt(r.getDate(c).toLocalDate.toEpochDay.toInt)
              case dt: DecimalType =>
                b.putLong(r.getDecimal(c).setScale(dt.scale)
                  .unscaledValue().longValueExact())
              case other => throw new IllegalArgumentException(
                s"HyperBinary: unencodable type ${other.sql}")
            }
          }
          b.array()
      }
      bitmap ++ body
    }
    val offsets = cols.scanLeft(header.toLong)(_ + _.length).init
    val buf = ByteBuffer.allocate(header + cols.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(rows.length.toLong)
    buf.putLong(nCols.toLong)
    offsets.foreach(buf.putLong)
    cols.foreach(buf.put)
    buf.array()
  }

  /** Decode [[encodeBlock]] output back to typed values, driven by the
    * catalog type names (so the reader needs nothing but the file).
    */
  private def decodeBlock(payload: Array[Byte],
      attrs: Seq[(String, Seq[Any])]): (StructType, Array[Array[Any]]) = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val rows = buf.getLong.toInt
    val nCols = buf.getLong.toInt
    require(nCols == attrs.length,
      s"block has $nCols columns, catalog has ${attrs.length}")
    val offsets = (0 until nCols).map(_ => buf.getLong.toInt)
    val out = Array.fill(rows)(new Array[Any](nCols))
    val fields = attrs.zipWithIndex.map { case ((name, tpe), c) =>
      val base = offsets(c)
      val bitmapLen = (rows + 7) / 8
      def isNull(i: Int) = (payload(base + i / 8) & (1 << (i % 8))) != 0
      val data = base + bitmapLen
      val typeName = tpe.head.asInstanceOf[String]
      val dt: DataType = typeName match {
        case "Varchar" | "Text" =>
          var heap = data + 4 * rows
          for (i <- 0 until rows) {
            val len = buf.getInt(data + 4 * i)
            out(i)(c) =
              if (isNull(i)) null
              else new String(payload, heap, len, StandardCharsets.UTF_8)
            heap += len
          }
          StringType
        case "Integer" =>
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null else buf.getInt(data + 4 * i)
          IntegerType
        case "BigInt" =>
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null else buf.getLong(data + 8 * i)
          LongType
        case "Double" =>
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null
              else java.lang.Double.longBitsToDouble(buf.getLong(data + 8 * i))
          DoubleType
        case "Bool" =>
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null else payload(data + i) != 0
          BooleanType
        case "Timestamp" =>
          for (i <- 0 until rows) {
            out(i)(c) = if (isNull(i)) null else {
              val micros = buf.getLong(data + 8 * i)
              val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
              t
            }
          }
          TimestampType
        case "Date" =>
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null
              else java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(buf.getInt(data + 4 * i).toLong))
          DateType
        case "Numeric" =>
          val precision = tpe(1).asInstanceOf[Int]
          val scale = tpe(2).asInstanceOf[Int]
          for (i <- 0 until rows)
            out(i)(c) = if (isNull(i)) null
              else java.math.BigDecimal.valueOf(buf.getLong(data + 8 * i), scale)
          DecimalType(precision, scale)
        case other => throw new IllegalArgumentException(
          s"HyperBinary: unknown catalog type $other")
      }
      StructField(name, dt, nullable = true)
    }
    (StructType(fields), out)
  }

  // ---- container --------------------------------------------------------

  /** Write `tables` as one `.hyper`-structured file. Single-file export
    * funnels through the driver by nature (the reference's sink writes
    * one local file per extract, query_iterator.py:170); the collect here
    * is the same contract — extracts are result tables, not corpora.
    * `maxRows` guards that contract at scale: the materialization is
    * bounded (LIMIT maxRows+1, a single pass — no separate count job),
    * so pointing a fact table at the sink raises a clear error instead
    * of a driver OOM.
    */
  def write(path: String, tables: Seq[(String, DataFrame)],
      maxRows: Int = 1000000): Unit = {
    require(maxRows > 0, s"HyperBinary: maxRows must be positive (got $maxRows)")
    // unmappable types fail before any table's query runs
    tables.foreach { case (_, df) => df.schema.fields.foreach(f => catalogType(f.dataType)) }
    val collected = tables.map { case (name, df) =>
      val rows = df.limit(maxRows + 1).collect()
      if (rows.length > maxRows)
        throw new IllegalArgumentException(
          s"HyperBinary: table '$name' exceeds the $maxRows-row export cap; " +
            "this sink materializes extracts on the driver — for large " +
            "results write parquet (or raise maxRows deliberately)")
      (name, df.schema, rows)
    }
    val withNulls = collected.map { case (name, schema, rows) =>
      val nullCounts = schema.fields.indices
        .map(c => rows.count(_.isNullAt(c)).toLong).toArray
      (name, schema, nullCounts)
    }
    val catalog = catalogJson(withNulls).getBytes(StandardCharsets.UTF_8)
    val genesis = catalogJson(Seq.empty).getBytes(StandardCharsets.UTF_8)

    val out = new java.io.ByteArrayOutputStream(1 << 16)
    def pad(to: Int): Unit = while (out.size() < to) out.write(0)
    def putU32(v: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v)
      out.write(b.array())
    }
    def putU64(v: Long): Unit = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v)
      out.write(b.array())
    }

    // header page — magic + the observed constant words; section offsets
    // at 0x40/0x48/0x50 (catalog / table data / genesis block)
    out.write(Magic)
    pad(0x30)
    putU64(2L) // observed constant at 0x30
    pad(0x3a)
    out.write(Array[Byte](1, 0)) // observed constant at 0x3a
    pad(0x40)
    val dataOffsetPos = out.size() // fill in after layout: catalog first
    putU64(CatalogOffset.toLong)
    putU64(0L) // patched below: table data offset
    putU64(0L) // patched below: genesis offset
    pad(0x2000) // 0x1ffc holds page 1's self-checksum, patched below
    out.write(catalog)
    out.write('~')
    putU32(crc32cRaw(catalog :+ '~'.toByte)) // frame: raw CRC32C of JSON+'~'

    // table data blocks, 16-aligned; frame = raw CRC32C over the u32
    // length word + the LZ4 stream (the artifact's 0x2880..0x28f6 span)
    pad((out.size() + 15) / 16 * 16)
    val dataOffset = out.size()
    collected.foreach { case (_, schema, rows) =>
      val payload = encodeBlock(schema, rows)
      val compressed = Lz4Block.compress(payload)
      val lenWord = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(payload.length).array()
      out.write(lenWord)
      out.write(compressed)
      putU32(crc32cRaw(lenWord ++ compressed))
      pad((out.size() + 15) / 16 * 16)
    }

    // genesis block: "HyperDB\0", version words, content-derived UUID,
    // framed empty-catalog copy (the artifact's 0x5080 structure)
    val genesisOffset = out.size()
    out.write(Array[Byte]('H', 'y', 'p', 'e', 'r', 'D', 'B', 0))
    out.write(Array[Byte](1, 0, 0, 0, 1, 0, 2, 0))
    out.write(java.util.UUID.nameUUIDFromBytes(catalog).toString
      .replace("-", "").sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray)
    putU64(1L)
    pad(genesisOffset + 0x30)
    putU32(0) // genesis header frame, patched below (needs final bytes)
    pad(genesisOffset + 0x40)
    // unlike the live catalog, the genesis copy has NO '~' terminator in
    // the artifact; its frame covers the JSON bytes alone
    out.write(genesis)
    putU32(crc32cRaw(genesis))

    val bytes = out.toByteArray
    val patch = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    patch.putLong(dataOffsetPos + 8, dataOffset.toLong)
    patch.putLong(dataOffsetPos + 16, genesisOffset.toLong)
    patch.putLong(0x20, bytes.length.toLong) // file size (observed-position guess)
    // genesis header frame: raw CRC32C of the block's first 0x30 bytes
    // (the artifact's 0x5080..0x50b0 span)
    patch.putInt(genesisOffset + 0x30, crc32cRaw(bytes, genesisOffset, genesisOffset + 0x30))
    // header pages are SELF-VERIFYING: the last u32 of each 4 KiB page is
    // the raw CRC32C of the page's first 4092 bytes, making the whole
    // page CRC to zero (verified on the artifact's pages 0 and 1) —
    // patched last so they cover every other patched field
    patch.putInt(0x0ffc, crc32cRaw(bytes, 0x0000, 0x0ffc))
    patch.putInt(0x1ffc, crc32cRaw(bytes, 0x1000, 0x1ffc))
    AtomicFile.write(Paths.get(path).toAbsolutePath)(_.write(bytes))
  }

  /** Every embedded catalog JSON in the file, in offset order (the live
    * catalog, then the genesis copy) — brace-matched from the
    * `compressionMethod` marker, since the live catalog is '~'-terminated
    * and the genesis copy is not.
    */
  def catalogJsons(path: String): Seq[String] = {
    val data = Files.readAllBytes(Paths.get(path))
    val marker = """{"compressionMethod"""".getBytes(StandardCharsets.UTF_8)
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i >= 0 && i < data.length) {
      i = indexOf(data, marker, i)
      if (i >= 0) {
        // brace-match outside string literals to the catalog's end
        var depth = 0
        var j = i
        var inStr = false
        var done = -1
        while (done < 0 && j < data.length) {
          val c = data(j).toChar
          if (inStr) {
            if (c == '\\') j += 1
            else if (c == '"') inStr = false
          } else if (c == '"') inStr = true
          else if (c == '{') depth += 1
          else if (c == '}') { depth -= 1; if (depth == 0) done = j }
          j += 1
        }
        require(done > 0, s"unterminated catalog JSON at offset $i of $path")
        found += new String(data, i, done - i + 1, StandardCharsets.UTF_8)
        i = done + 1
      }
    }
    found.toSeq
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    while (i <= hay.length - needle.length) {
      var k = 0
      while (k < needle.length && hay(i + k) == needle(k)) k += 1
      if (k == needle.length) return i
      i += 1
    }
    -1
  }

  /** Read a [[write]]-produced file back: (table name, schema, rows). */
  def read(path: String): Seq[(String, StructType, Array[Array[Any]])] = {
    val data = Files.readAllBytes(Paths.get(path))
    require(data.length > Magic.length &&
      Magic.indices.forall(k => data(k) == Magic(k)),
      s"$path: not a Hyper container (bad magic)")
    val head = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val catalogOff = head.getLong(0x40).toInt
    var pos = head.getLong(0x48).toInt
    require(catalogOff == CatalogOffset, s"unexpected catalog offset $catalogOff")

    val catalog = catalogJsons(path).head
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(catalog)
    val rels = root.get("relations")
    val tables = (0 until rels.size()).map { r =>
      val rel = rels.get(r)
      val attrs = (0 until rel.get("attributes").size()).map { a =>
        val at = rel.get("attributes").get(a)
        val tpe = (0 until at.get("type").size()).map { k =>
          val n = at.get("type").get(k)
          if (n.isTextual) n.asText() else n.asInt(): Any
        }
        (at.get("name").asText(), tpe)
      }
      (rel.get("name").asText(), attrs)
    }

    tables.map { case (name, attrs) =>
      val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      val uncompLen = buf.getInt(pos)
      val (payload, consumed) = Lz4Block.decompress(data, pos + 4, uncompLen)
      val frame = buf.getInt(pos + 4 + consumed)
      require(frame == crc32cRaw(data, pos, pos + 4 + consumed),
        s"$path: block frame mismatch for $name")
      pos = (pos + 4 + consumed + 4 + 15) / 16 * 16
      val (schema, rows) = decodeBlock(payload, attrs)
      (name, schema, rows)
    }
  }
}
