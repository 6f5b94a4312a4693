package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark JVM: one closed-loop client on Spark local[N].
  *
  * Usage: perfbench.Main --workload W --work DIR --cycles C --trace 0|1 --cpus N
  *
  * Reads DIR/manifest.json (written by perfbench/gen.py), starts Spark,
  * runs the workload's warm-up, then times C whole cycles of its
  * operations and the workload's opens, checks every answer against the
  * manifest, and writes DIR/result.json. With --trace 1 every other
  * operation is traced (spans + Spark listeners) and the result holds
  * per-layer metrics and the tracing overhead instead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainEntered = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work"))
    val manifest = new ObjectMapper().readTree(work.resolve("manifest.json").toFile)
    val run = new Run(opts("workload"), work, manifest, opts("cycles").toInt,
      opts("trace") == "1", opts("cpus").toInt)
    run.result("jvm_boot_s") =
      (mainEntered - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try run.execute()
    finally Run.writeJson(work.resolve("result.json"), run.result)
  }
}

/** One benchmark run: Spark set-up, warm-up, the timed loop, the host-tick
  * probe, and the record of every operation. */
final class Run(val workload: String, val work: java.nio.file.Path, val manifest: JsonNode,
    val cycles: Int, val trace: Boolean, cpus: Int) {
  val result = mutable.LinkedHashMap.empty[String, Any]
  /** (kind, wall ms, traced) of every successful timed operation */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val opens = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  /** answers equal to a known deviation of the program from the reference */
  var deviations = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val tracedOps = mutable.ArrayBuffer.empty[(String, OpCounters)]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var tick = 0
  var spark: SparkSession = _
  var tracer: Tracer = _

  /** The session settings of graft.Bench, with Spark's scratch and
    * warehouse directories inside the run's work directory. */
  private def newSpark(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def execute(): Unit = {
    val (s, startS) = Run.timeS(newSpark())
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    result("spark_start_s") = startS
    tracer = new Tracer(spark)
    val w = Workloads(workload, this)
    result("warmup_s") = Run.timeS(w.warmUp())._2
    val gc0 = Run.gcMs()
    w.measure()
    layers("jvm.gc_ms") = (Run.gcMs() - gc0).toDouble
    if (trace) {
      w.traceExtras()
      layers ++= Layers.fromTrace(this)
      result("samples") = samples
      Run.writeJson(work.resolve("trace.json"), Map("spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)), "self_ms" -> tracer.selfMs))
    }
    result("calib_s") = calib()
    result("ops") = ops.map { case (k, ms, tr) => Map("kind" -> k, "ms" -> ms, "traced" -> tr) }
    result("opens_s") = opens
    result("attempted") = attempted
    result("failed") = failed
    result("known_deviations") = deviations
    result("failures") = failures
    result("layers") = layers
    spark.stop()
  }

  /** The host-tick probe of graft.Bench: reference only, normalizes nothing. */
  private def calib(): Double = {
    def probe() = spark.range(50000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    probe()
    Run.median((1 to 3).map(_ => Run.timeS(probe())._2))
  }

  /** Run one operation: time `body`, then check its answer outside the
    * timed interval. Failures and wrong answers count against attempts,
    * warm-up ones too. Only timed operations enter the latency record
    * (`latency = false` keeps one out of it); in a traced run every other
    * timed operation is traced, and every one kept out of the latency
    * record. */
  def attempt[T](kind: String, timed: Boolean, latency: Boolean = true)(body: => T)(
      check: T => Option[String]): Unit = {
    attempted += 1
    val traced = trace && timed && (!latency || { tick += 1; tick % 2 == 0 })
    try {
      val t0 = System.nanoTime()
      val r =
        if (traced) {
          val (v, c) = tracer.op(kind)(body)
          tracedOps += ((kind, c))
          v
        } else body
      val ms = (System.nanoTime() - t0) / 1e6
      check(r) match {
        case None =>
          if (timed && latency) ops += ((kind, ms, traced))
        case Some(why) => fail(kind, why)
      }
    } catch {
      case NonFatal(e) => fail(kind, e.toString.take(300))
    }
  }

  /** A per-layer sample taken inside a traced operation. */
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def fail(kind: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$kind: $why"
  }

  /** The timed closed loop: `body(c)` runs cycle c of `cycle` operations,
    * for `cycles` whole cycles, the same ones at any speed. The wall time
    * of each cycle, without what `before(c)` does ahead of it, is the base
    * of operations/s. Set-up ends as the loop starts. */
  def loop(cycle: Int, before: Int => Unit = _ => ())(body: Int => Unit): Unit = {
    result("setup_end_epoch_s") = System.currentTimeMillis() / 1000.0
    result("cycle") = cycle
    result("cycles") = cycles
    val walls = (0 until cycles).map { c => before(c); Run.timeS(body(c))._2 }
    result("cycle_s") = walls
    result("loop_s") = walls.sum
  }
}

object Run {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: java.nio.file.Path, value: Any): Unit =
    json.writeValue(path.toFile, value)

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Canonical, order-free form of a result, matching gen.canon_rows:
    * NULL -> "NULL", integers as text, floats rounded to two decimals. */
  def canon(rows: Array[Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => canonValue(r.get(i))).mkString("|")).toSeq.sorted

  def canonValue(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "1" else "0"
    case d: Double => new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => canonValue(f.toDouble)
    case d: java.math.BigDecimal => d.setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString
    case other => other.toString
  }
}
