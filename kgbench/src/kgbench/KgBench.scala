package kgbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark runner: one JVM, one local[cores] session, one closed-loop
  * client. Runs set-up, a warm-up operation, an untraced timed window
  * and, with `--trace 1`, a traced window; writes the raw measurements
  * (operation walls, spans, Spark jobs and per-stage task rollups) as
  * one JSON file for kgbench/rollup.py.
  *
  * Usage: KgBench --workload build|canon|sweep --seed N --seconds S
  *   --trace 0|1 --cores C --work DIR --out FILE --panel FILE [--record FILE] [--registry 1]
  */
/** One operation of a timed window: its result, the process CPU time it
  * took and the machine's CPU ticks while it ran.
  */
final case class Timed(traced: Boolean, r: OpResult, cpuS: Double, ticks: CpuTicks)

object KgBench {

  // workload sizes: kgbench/NOTES.md, "Sizing"
  val BuildDocs = 12000L
  val CanonBases = 400
  val CanonThreshold = 1200
  /** Program set-ups per run; their median is reported. */
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    Files.createDirectories(work)

    val t0 = Clock.nowMs
    val spark = session(cores, work)
    val sessionS = Workloads.secs(t0)
    HeapPeak.install()

    var dirs = 0
    def fresh(kind: String): Path = {
      dirs += 1
      Files.createDirectories(work.resolve(f"$kind%s-$dirs%03d"))
    }

    val w: Workload = workload match {
      case "build" => new BuildWorkload(spark, seed, BuildDocs)
      case "canon" => new CanonWorkload(spark, seed, CanonBases, CanonThreshold)
      case "sweep" =>
        val (panel, expected) =
          if (a.get("registry").contains("1")) (SweepWorkload.registry, Map.empty[String, (Long, String)])
          else readPanel(Paths.get(a("panel")))
        new SweepWorkload(spark, seed, panel, expected, a.contains("record"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: input generation, the program's set-up repeated (median
    // reported), then one untimed warm-up operation so JIT, codegen
    // caches and class loading are warm before any window opens
    val g0 = Clock.nowMs
    w.inputs(fresh("input"))
    val inputsS = Workloads.secs(g0)
    val prepS = (1 to SetupRepeats).map { _ =>
      val p0 = Clock.nowMs
      w.prepare(fresh("setup"))
      Workloads.secs(p0)
    }
    val off = new Spans(false)
    val w0 = Clock.nowMs
    val warm = w.op(0, fresh("op"), off)
    val warmupS = Workloads.secs(w0)

    // every operation starts from a collected heap, so peak_heap_mb
    // never depends on garbage an earlier operation or set-up promoted
    // into the old generation, and is never empty. `spans(i)` is the
    // recorder of the window's i-th operation.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def window(spans: Int => Spans): (Seq[Timed], Double) = {
      HeapPeak.reset()
      val end = Clock.nowMs + seconds * 1000
      val ops = scala.collection.mutable.ArrayBuffer.empty[Timed]
      var i = 1
      while (ops.size < 2 || Clock.nowMs < end) {
        val tr = spans(i)
        tr.op = i
        System.gc()
        val cpu0 = os.getProcessCpuTime
        val ticks0 = CpuTicks.now()
        val r = w.op(i, fresh("op"), tr)
        ops += Timed(tr.enabled, r, (os.getProcessCpuTime - cpu0) / 1e9, CpuTicks.now() - ticks0)
        i += 1
      }
      (ops.toSeq, HeapPeak.peakMb)
    }

    val (untraced, peakMb) = window(_ => off)
    // the traced window alternates traced and untraced operations, so the
    // tracing overhead compares operations equally far along JIT warm-up
    val rollup = new TaskRollup
    val tracedRun = if (!trace) None else {
      val tr = new Spans(true)
      spark.sparkContext.addSparkListener(rollup)
      val r = window(i => if (i % 2 == 1) tr else off)._1
      org.apache.spark.KgBenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rollup)
      Some((r, tr.all))
    }
    val checks = w.finalChecks()

    def ops(rs: Seq[Timed]) = rs.map { t =>
      val r = t.r
      Map("wall_s" -> r.wallS, "cpu_s" -> t.cpuS, "busy_ticks" -> t.ticks.busy, "stolen_ticks" -> t.ticks.stolen,
        "items" -> r.items, "rows" -> r.rows, "failed" -> r.failed, "samples" -> r.samples, "counts" -> r.counts)
    }
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "prep_s" -> prepS, "warmup_s" -> warmupS),
      "warmup_failed" -> warm.failed,
      "untraced" -> Map("ops" -> ops(untraced), "peak_heap_mb" -> peakMb),
      "traced" -> tracedRun.map { case (rs, spans) =>
        Map(
          "ops" -> ops(rs.filter(_.traced)),
          "plain_ops" -> ops(rs.filterNot(_.traced)),
          "spans" -> spans.map(s =>
            Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "tag" -> s.tag,
              "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
          "jobs" -> rollup.jobsJson,
          "stages" -> rollup.stagesJson
        )
      },
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    )
    json.writeValue(Paths.get(a("out")).toFile, result)
    (w, a.get("record")) match {
      case (s: SweepWorkload, Some(f)) =>
        json.writeValue(Paths.get(f).toFile,
          s.recorded.toSeq.map { case (n, (rows, h)) =>
            Map("name" -> n, "family" -> SweepWorkload.family(n), "rows" -> rows, "hash" -> h,
              "wall_s" -> s.recordedWalls(n))
          })
      case _ =>
    }
    spark.stop()
  }

  /** The library's bench session shape, sized to this host: AQE with
    * skew joins, shuffle partitions at twice the core count, the graft
    * optimizer rules installed, scratch space under the work dir.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.installOptimizations(s)
    s
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Panel file: [{"name", "family", "rows", "hash"}, ...]. */
  def readPanel(p: Path): (Seq[(String, String)], Map[String, (Long, String)]) = {
    val node = json.readTree(p.toFile)
    val entries = node.elements().asScala.toSeq
    val panel = entries.map(e => e.get("name").asText() -> e.get("family").asText())
    val expected = entries.collect {
      case e if e.has("hash") => e.get("name").asText() -> (e.get("rows").asLong(), e.get("hash").asText())
    }.toMap
    (panel, expected)
  }
}
