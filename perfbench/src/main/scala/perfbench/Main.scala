package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One benchmark JVM. It builds the session, prints `READY` (the caller
  * times set-up from process start to that line), then runs passes of one
  * workload and prints `RESULT <json>` as its last line.
  *
  * Modes:
  *   - `setup`: exit once the session is up (an extra set-up sample);
  *   - `full`: first pass, a fixed warm-up, then passes for
  *     `--seconds`, then the outputs of the last pass are dumped for the
  *     oracle check;
  *   - `trace`: as `full`, but measured passes alternate between untraced
  *     and traced (spans + listener events), followed by the isolated
  *     layer probes; the trace is written to `--out/trace.json`.
  */
object Main {

  /** A pass whose co-tenant CPU share is above this is measured again. */
  val CotenantLimit = 0.10
  /** Warm-up is a fixed number of passes, not a time: JIT keeps improving
    * for many passes, so runs whose measured passes start after different
    * amounts of work land in different JIT states and disagree. */
  val WarmPasses = 4
  val MinMeasured = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spec = new ObjectMapper().readTree(Files.readString(Paths.get(opts("spec"))))
    val mode = opts("mode")
    val seconds = opts("seconds").toDouble
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = graft.LocalSession.build(opts("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val buildS = (System.nanoTime() - t0) / 1e9
    println("READY")
    System.out.flush()

    if (mode == "setup") { spark.stop(); return }

    val tracer = new Tracer
    val events = if (mode == "trace") Some(Events.install(spark)) else None
    val work: Work = spec.get("kind").asText() match {
      case "pipeline" => new PipelineWork(spark, spec)
      case "gates" => new GateWork(spark, spec)
    }
    val res = new Result
    res.put("session_build_s", buildS)

    /** Spans and listener events are recorded only inside `body`, so the
      * untraced passes of a traced run pay for neither. */
    def traced[T](on: Boolean)(body: => T): T = {
      tracer.enabled = on
      events.foreach(_.recording = on)
      try body
      finally {
        tracer.enabled = false
        if (on) events.foreach { ev => ev.drain(spark); ev.recording = false }
      }
    }

    def timedPass(tracedPass: Boolean): Double = {
      tracer.pass += 1
      val cpu0 = Cpu.sample()
      val t = System.nanoTime()
      traced(tracedPass)(tracer.span("pass")(work.pass(tracer)))
      val s = (System.nanoTime() - t) / 1e9
      val co = Cpu.cotenant(cpu0, Cpu.sample())
      res.cotenant += co
      s
    }

    /** Run a pass and check its output; a pass taken while co-tenants held
      * more than [[CotenantLimit]] of the box is measured once more, and
      * the re-measure is what counts. Returns None for a failed pass. */
    def guardedPass(tracedPass: Boolean): Option[Double] = {
      def attempt(): Option[Double] = {
        res.attempted += 1
        try {
          val s = timedPass(tracedPass)
          if (work.check()) Some(s)
          else { res.failed += 1; res.errors += s"pass ${tracer.pass}: output differs"; None }
        } catch {
          case NonFatal(e) =>
            res.failed += 1
            res.errors += s"pass ${tracer.pass}: $e"
            e.printStackTrace()
            None
        }
      }
      attempt().flatMap { s =>
        if (res.cotenant.last <= CotenantLimit) Some(s)
        else {
          res.remeasured += 1
          res.loadedPasses += s
          attempt()
        }
      }
    }

    // the first pass is never re-measured: a batch user pays it as is
    res.attempted += 1
    val first =
      try {
        val s = timedPass(tracedPass = false)
        if (!work.check()) { res.failed += 1; res.errors += "first pass: output differs" }
        s
      } catch {
        case NonFatal(e) =>
          res.failed += 1; res.errors += s"first pass: $e"; e.printStackTrace(); Double.NaN
      }
    res.put("first_pass_s", first)

    if (res.failed == 0) {
      val warmStart = System.nanoTime()
      for (_ <- 1 to WarmPasses) guardedPass(tracedPass = false)
      res.put("warm_s", (System.nanoTime() - warmStart) / 1e9)

      // in trace mode every other pass is traced, so both kinds get
      // MinMeasured samples under the same conditions
      val minPasses = if (mode == "trace") 2 * MinMeasured else MinMeasured
      val start = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - start) / 1e9 < seconds || i < minPasses) {
        val tracedPass = mode == "trace" && i % 2 == 1
        if (tracedPass) Heap.resetPeak()
        guardedPass(tracedPass).foreach { s =>
          if (tracedPass) { res.tracedPasses += s; res.heapPeakMb += Heap.peakMb() }
          else res.passes += s
        }
        i += 1
      }
      if (mode == "trace") {
        tracer.pass += 1
        traced(on = true)(tracer.span("probes")(work.probes(tracer)))
      }
      work.dump(out.resolve("check"))
      res.put("output_bytes", work.outputBytes.toDouble)
      res.put("rows_written", work.rowsWritten.toDouble)
    }
    events.foreach { ev =>
      Files.writeString(out.resolve("trace.json"),
        Json.obj("spans" -> tracer.json, "events" -> ev.json, "counters" -> work.counters))
    }
    println("RESULT " + res.json)
    System.out.flush()
    spark.stop()
  }
}

/** Everything one JVM reports back. */
final class Result {
  var attempted = 0
  var failed = 0
  var remeasured = 0
  val errors = ArrayBuffer.empty[String]
  val passes = ArrayBuffer.empty[Double]
  val tracedPasses = ArrayBuffer.empty[Double]
  val loadedPasses = ArrayBuffer.empty[Double]
  val cotenant = ArrayBuffer.empty[Double]
  val heapPeakMb = ArrayBuffer.empty[Double]
  private val scalars = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def put(k: String, v: Double): Unit = scalars(k) = v

  def json: String = Json.obj(
    (scalars.toSeq.map { case (k, v) => k -> Json.num(v) } ++ Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "remeasured" -> remeasured.toString,
      "errors" -> Json.arr(errors.map(Json.str)),
      "passes" -> Json.arr(passes.map(Json.num)),
      "traced_passes" -> Json.arr(tracedPasses.map(Json.num)),
      "loaded_passes" -> Json.arr(loadedPasses.map(Json.num)),
      "cotenant" -> Json.arr(cotenant.map(Json.num)),
      "heap_peak_mb" -> Json.arr(heapPeakMb.map(Json.num)))): _*)
}

/** Box CPU accounting from /proc: busy jiffies of the whole box and of
  * this process, so a pass can tell how much of the box others used. */
object Cpu {
  final case class Sample(busy: Long, total: Long, own: Long)

  def sample(): Sample = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    val total = f.take(8).sum // user nice system idle iowait irq softirq steal
    val idle = f(3) + f(4)
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    Sample(total - idle, total, rest(11).toLong + rest(12).toLong) // utime, stime
  }

  /** Share of the box's CPU time used by other processes between two samples. */
  def cotenant(a: Sample, b: Sample): Double = {
    val total = b.total - a.total
    if (total <= 0) 0.0
    else math.max(0.0, ((b.busy - a.busy) - (b.own - a.own)).toDouble / total)
  }
}

object Heap {
  private def pools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** In-memory spans: name, parent, pass id, start and end in epoch µs. */
final class Tracer {
  var enabled = false
  var pass = 0
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
  private val spans = ArrayBuffer.empty[String]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowUs
      try body
      finally {
        stack = stack.tail
        spans += Json.obj("id" -> id.toString, "name" -> Json.str(name),
          "parent" -> parent.toString, "pass" -> pass.toString,
          "start_us" -> start.toString, "end_us" -> nowUs.toString)
      }
    }

  def json: String = Json.arr(spans)
}

/** A minimal JSON writer (the driver emits only flat records). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** What a workload does in one pass, and how its output is checked. */
trait Work {
  def pass(tr: Tracer): Unit
  /** Untimed check after every pass: the output matches the first pass's. */
  def check(): Boolean
  /** Isolated layer probes, run once after the traced passes. */
  def probes(tr: Tracer): Unit = ()
  /** Write the last pass's outputs as parquet for the oracle check. */
  def dump(dir: Path): Unit
  def outputBytes: Long
  def rowsWritten: Long
  def counters: String = "{}"
}

object Util {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def elements(spec: JsonNode, key: String): Seq[JsonNode] =
    spec.get(key).elements().asScala.toSeq
}
