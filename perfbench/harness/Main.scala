package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark client: one JVM running Spark `local[N]`, driven by a single
  * closed-loop client. Warms up for a fixed number of passes over the
  * workload's own op mix, times a fixed op schedule drawn from the seed,
  * optionally repeats it traced, runs the workload's correctness checks and
  * prints one `PERFBENCH_RESULT` JSON line.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <stage dir> <work dir>
  *        <repo dir> <launch epoch ns> <task slots> <shuffle partitions>
  */
object Main {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Timed(kind: String, seconds: Double, ok: Boolean, docs: Long)

  /** One pass over a list of ops: per-op latencies plus wall, process CPU
    * (utime + stime) and hypervisor steal of the whole pass.
    */
  final case class PassResult(ops: Seq[Timed], wallS: Double, cpuS: Double, stealPct: Double,
      error: Option[String])

  object PassResult {
    /** Consecutive passes as one; steal weighted by wall time. */
    def concat(ps: Seq[PassResult]): PassResult = {
      val wall = ps.map(_.wallS).sum
      PassResult(ps.flatMap(_.ops), wall, ps.map(_.cpuS).sum,
        ps.map(p => p.stealPct * p.wallS).sum / math.max(wall, 1e-9), ps.flatMap(_.error).headOption)
    }
  }

  private def session(work: Path, cores: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config(graft.GraftConf.ObjAggFallbackKey, graft.GraftConf.ObjAggFallbackEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def workload(name: String, spark: SparkSession, stage: Path, work: Path, seed: Long,
      repo: Path, tracer: Tracer): Workload = name match {
    case "census_report" => new CensusWorkload(spark, stage, work, seed, repo, tracer)
    case "pretrain" =>
      val m = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(stage.resolve("manifest.json")), StandardCharsets.UTF_8))
      new PretrainWorkload(spark, stage, work, seed, tracer,
        (m \ "docs").asInstanceOf[org.json4s.JInt].num.toLong)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, stageS, workS, repoS, launchS, coresS, partitionsS) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val (stage, work, repo) = (Paths.get(stageS), Paths.get(workS), Paths.get(repoS))
    val launchNs = launchS.toLong
    val cores = coresS.toInt
    val (steal0, total0) = cpuJiffies()

    val spark = session(work, cores, partitionsS.toInt)
    val sessionS = sinceLaunch(launchNs)

    val tracer = new Tracer(false)
    val wl = workload(name, spark, stage, work, seed, repo, tracer)
    val loadedS = sinceLaunch(launchNs)

    val warm = (1 to wl.warmPasses).map(p => runPass(spark, wl.warmPass(p), tracer))
    val setupS = sinceLaunch(launchNs)
    val rounds = wl.rounds(seconds, "timed", traced).map(r => runPass(spark, r, tracer))
    val timed = PassResult.concat(rounds)

    val layer =
      if (traced) Some(tracedRun(spark, wl, tracer, seconds, timed, cores, work.resolve("spans.jsonl")))
      else None

    val checked0 = System.nanoTime()
    val checkFailures = try wl.check(traced) catch { case e: Throwable => Seq(s"check raised: $e") }
    val checksS = (System.nanoTime() - checked0) / 1e9
    val failures = (warm ++ rounds ++ layer.map(_._2)).flatMap(_.error) ++
      layer.map(_._3("unattributed_jobs")).collect {
        case n: Double if n > 0 => s"traced run: $n Spark jobs not attributed to an op"
      } ++ checkFailures
    val opsAll = (warm ++ Seq(timed) ++ layer.map(_._2)).flatMap(_.ops)
    val lat = timed.ops.filter(_.ok).map(_.seconds).sorted
    // Every round holds the same work, and contention, steal and JIT
    // catch-up only add time: the rates are those of the fastest round.
    val best = rounds.minBy(_.wallS)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> best.ops.count(_.ok) / best.wallS,
      "op_p50_s" -> percentile(lat, 0.5),
      "op_p90_s" -> percentile(lat, 0.9),
      "docs_per_s" -> best.ops.filter(_.ok).map(_.docs).sum / best.wallS,
      "cpu_s_per_op" -> best.cpuS / math.max(1, best.ops.size),
      "peak_rss_mb" -> procStatusKb("VmHWM") / 1024.0)

    val diagnostics = Map(
      "session_s" -> sessionS, "input_load_s" -> (loadedS - sessionS), "checks_s" -> checksS,
      "warmup_passes" -> warm.map(p => Map("wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "steal_pct" -> p.stealPct, "ops" -> p.ops.size)),
      "timed" -> Map("wall_s" -> timed.wallS, "cpu_s" -> timed.cpuS, "steal_pct" -> timed.stealPct,
        "rounds" -> rounds.map(r => Map("wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
          "steal_pct" -> r.stealPct, "ops" -> r.ops.size)),
        "ops" -> timed.ops.size, "per_kind_s" -> timed.ops.groupBy(_.kind).map { case (k, v) =>
          k -> v.map(_.seconds) }),
      "run_steal_pct" -> stealPct(steal0, total0),
      "load_1m" -> loadAvg(), "competing_jvms" -> competingJvms(),
      "failures" -> failures, "cores" -> cores, "shuffle_partitions" -> partitionsS.toInt) ++
      layer.map(l => "trace" -> l._3).toMap

    val result = Map(
      "correct" -> failures.isEmpty,
      "attempted" -> opsAll.size,
      "failed" -> opsAll.count(!_.ok),
      "metrics" -> (if (traced) layer.get._1 else endToEnd),
      "diagnostics" -> diagnostics)
    println("PERFBENCH_RESULT " + Json(result))
    System.out.flush()
    // the work dir is removed by the caller: skip Spark's shutdown
    Runtime.getRuntime.halt(if (failures.nonEmpty) 1 else 0)
  }

  /** The traced run: the same schedule again with spans and the public
    * listeners on, then the kernel probes. Returns the per-layer metrics,
    * the traced ops and trace diagnostics.
    */
  private def tracedRun(spark: SparkSession, wl: Workload, tracer: Tracer, seconds: Int,
      untraced: PassResult, cores: Int, spansFile: Path)
      : (Map[String, Double], PassResult, Map[String, Any]) = {
    val (req0, miss0) = wl.fetches
    tracer.enabled = true
    val listeners = new Listeners(tracer)
    listeners.register(spark)
    val run = runPass(spark, wl.rounds(seconds, "traced", traced = true).flatten ++ wl.tracedExtra("traced"), tracer)
    listeners.drain()
    listeners.unregister(spark)
    val (req1, miss1) = wl.fetches
    val opSpans = tracer.spans.asScala.filter(s => s.parent == 0L && s.op == s.id).toSeq

    def meanMs(name: String): Double = {
      val s = tracer.byName(name); if (s.isEmpty) 0.0 else s.map(_.durNs).sum / 1e6 / s.size
    }
    val requests = req1 - req0
    val sources = Map(
      "sources.fetch_ms" -> meanMs("sources.fetch"), "sources.decode_ms" -> meanMs("sources.decode"),
      "sources.toframe_ms" -> meanMs("sources.toframe"),
      "sources.cache_hit_ratio" ->
        (if (requests == 0) 0.0 else (requests - (miss1 - miss0)).toDouble / requests),
      "CensusFrame.derive_ms" -> meanMs("CensusFrame.derive"),
      "CensusFrame.collect_ms" -> meanMs("CensusFrame.collect"))
    val queries = (CensusWorkload.Kinds ++ PretrainWorkload.Kinds).map { k =>
      val ls = run.ops.filter(o => o.kind == k && o.ok).map(_.seconds)
      s"queries.$k.s" -> (if (ls.isEmpty) 0.0 else ls.sum / ls.size)
    }.toMap
    val streaming = listeners.streamMetrics +
      ("streaming.finalize_s" -> meanMs("streaming.finalize") / 1e3)
    val spark0 = listeners.sparkMetrics(opSpans, cores)
    val probes = kernelProbes(spark, wl, tracer)
    // ops per second over the op kinds both schedules ran
    def opsPerS(ops: Seq[Timed]) = {
      val common = ops.filter(o => o.ok && untraced.ops.exists(_.kind == o.kind))
      common.size / common.map(_.seconds).sum
    }
    val overhead = 1.0 - opsPerS(run.ops) / opsPerS(untraced.ops)
    val metrics = sources ++ queries ++ streaming ++ (spark0 - "trace.unattributed_jobs") ++
      listeners.planMetrics(opSpans) ++ probes + ("trace.overhead_share" -> overhead)

    val self = tracer.selfNs
    val bySpan = tracer.spans.asScala.toSeq.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.durNs).sum / 1e6,
        "self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
    }
    writeSpans(tracer, spansFile)
    (metrics, run, Map("unattributed_jobs" -> spark0("trace.unattributed_jobs"),
      "spans" -> bySpan, "wall_s" -> run.wallS))
  }

  /** Each kernel's public Column builder alone over its cached staged input,
    * written to the noop sink; median of three, per input row.
    */
  private def kernelProbes(spark: SparkSession, wl: Workload, tracer: Tracer): Map[String, Double] = {
    val measured = tracer.op(spark, "probes") {
      wl.probes().map { p =>
        val rows = p.input.count().toDouble
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          tracer(s"functions.${p.name}") {
            p.input.select(p.column.as("k")).write.format("noop").mode("overwrite").save()
          }
          System.nanoTime() - t0
        }.sorted
        s"functions.${p.name}.ns_per_row" -> times(1) / rows
      }.toMap
    }
    Seq("gram_hash_array", "minhash_sig", "md5_hash32", "nfc_canon", "tokens", "acs_sum_m",
      "acs_proportion").map(k => s"functions.$k.ns_per_row" -> measured.getOrElse(s"functions.$k.ns_per_row", 0.0)).toMap
  }

  private def writeSpans(tracer: Tracer, p: Path): Unit = {
    val lines = tracer.spans.asScala.toSeq.sortBy(_.startNs).map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
  }

  private def runPass(spark: SparkSession, ops: Seq[Op], tracer: Tracer): PassResult = {
    var error: Option[String] = None
    val (st0, tot0) = cpuJiffies()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val timed = ops.map { op =>
      val s0 = System.nanoTime()
      val ok = try { tracer.op(spark, op.kind)(op.run()); true } catch {
        case e: Throwable =>
          if (error.isEmpty) error = Some(s"${op.kind} failed: $e")
          false
      }
      Timed(op.kind, (System.nanoTime() - s0) / 1e9, ok, op.docs)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    PassResult(timed, wall, cpu, stealPct(st0, tot0), error)
  }

  private def sinceLaunch(launchNs: Long): Double = {
    val now = Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - launchNs) / 1e9
  }

  /** Linear interpolation between closest ranks. */
  def percentile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Steal and total jiffies from the `cpu` line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else -1L, f.sum)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Steal share of all CPU time since (`steal0`, `total0`), in %. */
  private def stealPct(steal0: Long, total0: Long): Double = {
    val (steal1, total1) = cpuJiffies()
    if (total1 > total0 && steal0 >= 0) 100.0 * (steal1 - steal0) / (total1 - total0) else -1.0
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Java processes other than this one. */
  private def competingJvms(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command().orElse("").endsWith("/java")
    }
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
