package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.session.{FileCollector, GraftSession}
import graft.sinks.{Dump, DumpOptions}
import graft.sources.{Compression, CsvSource, LtsvSource, TypeInference, XlsxSource}

/** One workload: a warm-up of a fixed count of untimed operations, the
  * timed closed loop over a fixed number of whole cycles, timed opens, and
  * what a traced run adds. Operations go through [[Run.attempt]], which
  * times them and checks their answers. */
abstract class Workload(val run: Run) {
  def spark = run.spark
  def tracer = run.tracer
  val inDir: String = run.manifest.get("input_dir").asText

  /** Operations come in a fixed cycle of kinds; the timed loop runs
    * `run.cycles` whole cycles from the start of the stream, so every run
    * weighs each kind the same and times the same operations. */
  lazy val cycle: Int = run.manifest.get("cycle").asInt

  def warmUp(): Unit
  def measure(): Unit
  def traceExtras(): Unit = ()

  def open(): GraftSession = GraftSession.builder().addPath(inDir).open(spark)

  /** The builder `open` over the workload's files, its wall recorded. */
  def timedOpen(): GraftSession = {
    val (s, sec) = Run.timeS(open())
    run.opens += sec
    s
  }

  def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  def compare(got: Array[Row], want: Seq[String], what: String): Option[String] = {
    val g = Run.canon(got)
    if (g == want) None
    else Some(s"$what: got ${g.take(3).mkString("[", "; ", "]")} want ${want.take(3).mkString("[", "; ", "]")}")
  }

  /** One traced `open`, for the bytes Spark reads during it; then a replay
    * of the source layer's public entry points on each input file, one span
    * each, which splits `open` into its steps. Spans inside the program are
    * a later change; these are calls made from outside. */
  def replaySources(): Unit = {
    tracer.op("open") {
      val gs = tracer.span("session.open")(open())
      run.sample("sources.open_bytes_read_ratio",
        tracer.sample()._2 / run.manifest.get("bytes").asDouble)
      gs.close()
    }
    tracer.op("sources.replay")(replaySteps())
  }

  private def replaySteps(): Unit = {
    val files = tracer.span("sources.collect")(FileCollector.collect(Seq(inDir)))
    files.foreach { f =>
      f.format match {
        case "csv" | "tsv" =>
          val delim = if (f.format == "tsv") "\t" else ","
          tracer.span("sources.header")(CsvSource.readHeader(f.path, delim.charAt(0)))
          val readable = tracer.span("sources.codec_shim")(Compression.sparkReadablePath(f.path))
          val ml = tracer.span("sources.newline_scan")(CsvSource.detectQuotedNewlines(spark, readable))
          val raw = CsvSource.read(spark, readable, delim, inferTypes = false, multiLine = Some(ml))
          tracer.span("sources.infer")(TypeInference.inferForDataFrame(raw))
        case "ltsv" =>
          val readable = tracer.span("sources.codec_shim")(Compression.sparkReadablePath(f.path))
          val raw = tracer.span("sources.ltsv_keys")(LtsvSource.read(spark, readable, inferTypes = false))
          tracer.span("sources.infer")(TypeInference.inferForDataFrame(raw))
        case "xlsx" =>
          tracer.span("sources.xlsx_parse")(XlsxSource.parseWorkbook(f.path))
        case _ =>
      }
    }
  }
}

object Workloads {
  def apply(name: String, run: Run): Workload = name match {
    case "point_queries" => new PointQueries(run)
    case "mutate_dump" => new MutateDump(run)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Short SQLite-dialect statements over small tables of mixed formats and
  * codecs, opened once: point lookups, small GROUP BYs with dialect
  * functions, joins, full-scan aggregates, PRAGMA and sqlite_master. */
final class PointQueries(run: Run) extends Workload(run) {
  private val stmts = run.manifest.get("statements").elements().asScala.toIndexedSeq
  private val answers = run.manifest.get("answers")
  private var gs: GraftSession = _
  /** texts run so far in the session, and how many timed statements
    * repeated one of them exactly */
  private val seen = collection.mutable.HashSet.empty[String]
  private var repeated = 0

  private def statement(s: JsonNode, timed: Boolean): Unit = {
    val sql = s.get("sql").asText
    if (!seen.add(sql) && timed) repeated += 1
    val kind = s.get("kind").asText
    run.attempt(kind, timed) {
      val df = tracer.span("session.sql")(gs.sql(sql))
      val rows = tracer.span("session.action")(df.collect())
      if (tracer.active && s.get("dialect").asBoolean)
        run.sample("dialect.analysis_ms", df.queryExecution.tracker.phases
          .get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      rows
    } { rows =>
      val deviation = Option(run.manifest.get("known_deviations").get(sql)).map(strings)
      if (deviation.contains(Run.canon(rows))) { run.deviations += 1; None }
      else compare(rows, strings(answers.get(sql)), sql)
    }
  }

  /** Cycles of warm-up texts of their own, in the session the timed
    * loop then uses: the statements only read, so they leave it as the
    * files made it. */
  def warmUp(): Unit = {
    gs = open()
    run.manifest.get("warmup").elements().asScala.foreach(statement(_, timed = false))
  }

  def measure(): Unit = {
    run.loop(cycle)(c => stmts.slice(c * cycle, (c + 1) * cycle).foreach(statement(_, timed = true)))
    run.result("repeated") = repeated
    gs.close()
    // after the loop, which has warmed the code an open shares with statements
    (1 to PointQueries.Opens).foreach(_ => timedOpen().close())
  }

  override def traceExtras(): Unit = replaySources()
}

object PointQueries {
  /** An open takes about 2 s on a 4-cpu host; five give a steady median. */
  val Opens = 5
}

/** DML with read-backs, in and out of transactions, and at the end of the
  * timed window a dump of the session to CSV+gzip, parquet and XLSX. Each
  * cycle of steps runs in a session of its own, opened from the files by a
  * timed `open`: a step's answers are the reference's after the steps
  * before it in its cycle. */
final class MutateDump(run: Run) extends Workload(run) {
  private val steps = run.manifest.get("steps").elements().asScala.toIndexedSeq
  private val dumps = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var gs: GraftSession = _

  private def step(st: JsonNode, timed: Boolean): Unit =
    run.attempt("dml", timed) {
      val before = if (tracer.active) tracer.sample()._1 else 0
      strings(st.get("statements")).foreach(s => tracer.span("mutate.apply")(gs.sql(s)))
      if (tracer.active) run.sample("mutate.checkpoint_jobs", tracer.sample()._1 - before)
      val df = gs.sql(st.get("readback").asText)
      val rows = tracer.span("mutate.readback")(df.collect())
      if (tracer.active) run.sample("mutate.plan_nodes", Tracer.nodes(df.queryExecution))
      rows
    }(rows => compare(rows, strings(st.get("answer")), st.get("readback").asText))

  /** Dump the session after `k` steps; a timed dump is kept for the checks
    * made by the runner. */
  private def dumpRound(k: Int, timed: Boolean): Unit = {
    val dir = run.work.resolve(if (timed) s"dumps/$k" else "dumps/warmup")
    run.attempt("dump", timed, latency = false) {
      val (_, sec) = Run.timeS {
        tracer.span("sinks.write.csv_gz")(
          gs.dump(dir.resolve("csv").toString, DumpOptions("csv", Some(Compression.Gzip))))
        tracer.span("sinks.write.parquet")(
          gs.dump(dir.resolve("parquet").toString, DumpOptions("parquet")))
        tracer.span("sinks.write.xlsx")(Dump.writeTable(gs.table("branches"), "branches",
          dir.resolve("xlsx").toString, DumpOptions("xlsx")))
      }
      val bytes = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      if (tracer.active) run.sample("sinks.bytes_written", bytes.toDouble)
      if (timed) dumps += Map("step" -> k, "dir" -> dir.toString, "s" -> sec, "bytes" -> bytes)
      bytes
    }(bytes => if (bytes > 0) None else Some("empty dump"))
  }

  def warmUp(): Unit = {
    val warm = run.manifest.get("warmup").elements().asScala.toIndexedSeq
    warm.grouped(cycle).zipWithIndex.foreach { case (c, i) =>
      gs = open()
      c.foreach(step(_, timed = false))
      if (i == 0) dumpRound(0, timed = false)
      gs.close()
    }
  }

  /** Each cycle in a fresh session, whose open is timed outside the cycle
    * wall; the last session is dumped. */
  def measure(): Unit = {
    val fresh = (c: Int) => {
      if (c > 0) gs.close()
      gs = timedOpen()
    }
    run.loop(cycle, fresh)(c => steps.slice(c * cycle, (c + 1) * cycle).foreach(step(_, timed = true)))
    dumpRound(run.cycles * cycle, timed = true)
    run.result("dumps") = dumps
    gs.close()
  }

  override def traceExtras(): Unit = {
    replaySources()
    replayGates(run.manifest.get("gates").get("input_dir").asText)
  }

  private val expected = collection.mutable.LinkedHashMap.empty[String, Seq[String]]

  /** The ops, functions and streaming layers, which no statement reaches:
    * SparkEntry.queries gates over the generated gate tables, once to warm
    * up and write each output for the oracle check made by the runner,
    * then once traced, which must return the same rows. */
  private def replayGates(dir: String): Unit = {
    val out = collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    MutateDump.Gates.foreach { g =>
      val outDir = run.work.resolve(s"gates-out/$g").toString
      run.attempt(g, timed = false) {
        SparkEntry.queries(g)(spark, dir).write.mode("overwrite").parquet(outDir)
        spark.read.parquet(outDir).collect()
      } { rows =>
        expected(g) = Run.canon(rows)
        out(g) = Map("dir" -> outDir, "rows" -> rows.length, "oracle" -> SparkEntry.oracleSql.get(g))
        None
      }
    }
    run.result("gates") = out
    MutateDump.Gates.filter(expected.contains).foreach { g =>
      run.attempt(g, timed = true, latency = false) {
        tracer.span(s"gate.$g")(SparkEntry.queries(g)(spark, dir).collect())
      }(rows => compare(rows, expected(g), g))
    }
  }
}

object MutateDump {
  /** The gates a traced run replays: a MinHash/SimHash kernel, a
    * persisted-index probe and a streaming screen. */
  val Gates: Seq[String] = Seq("d07_simhash_bands", "d10_indexed_neardup",
    "e15_streaming_bloom_screen")
}
