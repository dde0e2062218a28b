package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CensusFrame, SparkEntry}
import graft.functions.{AcsMath, TextFunctions}
import graft.operators.TextOps
import graft.queries.{PipelineQueries, Tables}
import graft.sources.{CensusReporter, CensusReporterDecoder, CensusReporterUrl}
import graft.streaming.{DocsStream, PretrainStream}

/** One timed unit of work: `kind` names its type, `docs` the input
  * documents it fully processes.
  */
final case class Op(kind: String, docs: Long, run: () => Unit)

/** A kernel probe: one public Column builder over a cached input frame. */
final case class Probe(name: String, input: DataFrame, column: Column)

trait Workload {
  def warmPasses: Int
  def warmPass(pass: Int): Seq[Op]
  /** The fixed op schedule of one timed run, as rounds of equal work (the
    * same op mix in each, in its own seeded order); `tag` keeps the
    * untraced and traced schedules' scratch state apart. A traced run
    * times the schedule twice, untraced then traced, and reports no
    * latency percentiles, so a workload may shorten both.
    */
  def rounds(seconds: Int, tag: String, traced: Boolean): Seq[Seq[Op]]
  /** Ops the traced run adds after its schedule. */
  def tracedExtra(tag: String): Seq[Op] = Nil
  /** Kernel probes of the traced run, over this workload's staged input. */
  def probes(): Seq[Probe]
  /** Correctness checks, run after every timed window: failure messages.
    * A traced run, the longest and the rarest, may add checks too costly
    * for every run.
    */
  def check(traced: Boolean): Seq[String]
  /** Source requests so far and how many of them missed the cache. */
  def fetches: (Long, Long) = (0L, 0L)
}

object Workload {
  /** Order-independent digest of a frame: row count and the exact sum of
    * per-row xxhash64 over every column, in column-name order.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** Differing-digest failures for each key with more than one digest. */
  def unstable(digests: collection.Map[String, mutable.Buffer[String]]): Seq[String] =
    digests.toSeq.sortBy(_._1).collect {
      case (k, ds) if ds.distinct.size > 1 => s"$k: output digest differs across passes: ${ds.distinct}"
    }
}

/** The paper's use case: one analyst requesting Census Reporter reports. A
  * report fetches a table through `CensusReporter.getResource` (the fetch
  * serves the staged JSON; repeated tables hit the run's cache), decodes
  * it, derives margin pairs with `CensusFrame` and collects the small
  * result. About one report in five is a `with_m90` SQL report over
  * lineitem instead.
  */
final class CensusWorkload(spark: SparkSession, stage: Path, work: Path, seed: Long,
    repo: Path, trace: Tracer) extends Workload {
  import CensusWorkload._

  /** Table ids, most requested first (the stage manifest's order), and the
    * county whose tracts each table holds.
    */
  private val (tables: Seq[String], county: Map[String, String]) = {
    import org.json4s._
    val m = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(stage.resolve("manifest.json")), StandardCharsets.UTF_8))
    def strings(key: String) = (m \ key).asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
    (strings("tables"), strings("tables").zip(strings("counties")).toMap)
  }
  val warmPasses = 3

  private val requests = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong
  override def fetches: (Long, Long) = (requests.get, misses.get)
  private val reports = mutable.Map[String, Array[Row]]()
  private val sqlDigests = mutable.Map[String, mutable.Buffer[String]]()

  private def fetch(url: String): String = {
    misses.incrementAndGet()
    val tid = "table_ids=([A-Z0-9]+)".r.findFirstMatchIn(url).get.group(1)
    new String(Files.readAllBytes(stage.resolve(s"tables/$tid.json")), StandardCharsets.UTF_8)
  }

  private def report(tid: String, cacheDir: Path): Op = Op("census_table", 1, () => {
    requests.incrementAndGet()
    val u = CensusReporterUrl(s"censusreporter:$tid/140/05000US06${county(tid)}")
    val json = trace("sources.fetch") {
      CensusReporter.getResource(u, cache = true, cacheDir = cacheDir, fetch = fetch)
    }
    val t = trace("sources.decode") { CensusReporterDecoder.decode(json, tid) }
    val cf = trace("sources.toframe") { CensusReporterDecoder.toFrame(spark, t) }
    val out = trace("CensusFrame.derive") { derive(cf) }
    val rows = trace("CensusFrame.collect") { out.df.collect().sortBy(_.getString(0)) }
    reports.synchronized(reports(tid) = rows)
  })

  private def sqlReport(kind: String): Op = Op(kind, 0, () => {
    val q = if (kind == "with_m90_q35") "q35_acs_grouped_rss" else "q85_margin_sql_agg"
    val df = trace(s"queries.$q") { SparkEntry.queries(q)(spark, stage.toString) }
    val d = trace("queries.collect") { df.collect().mkString(";") }
    sqlDigests.synchronized(sqlDigests.getOrElseUpdate(kind, mutable.Buffer()) += d)
  })

  def warmPass(pass: Int): Seq[Op] = {
    val cache = work.resolve(s"cache-warm-$pass")
    tables.map(report(_, cache)) ++ Seq(sqlReport("with_m90_q35"), sqlReport("with_m90_q85"))
  }

  /** Rounds of [[RoundReports]] reports, each the same fixed mix in its own
    * seeded order: one report in five is a SQL report, half of each shape;
    * table requests fall as 1/popularity rank, so tables repeat and later
    * requests hit the cache. Each round starts with an empty cache of its
    * own, so every round does the same work. In a traced run each of its
    * two schedules is half as long.
    */
  def rounds(seconds: Int, tag: String, traced: Boolean): Seq[Seq[Op]] = {
    val n = math.max(MinReports, (seconds * ReportsPerSecond).round.toInt) / (if (traced) 2 else 1)
    val nSql = RoundReports / 5
    val weights = tables.indices.map(i => 1.0 / (i + 1))
    val counts = largestRemainder(weights.map(_ / weights.sum * (RoundReports - nSql)))
    val rng = new scala.util.Random(seed)
    (1 to math.max(1, n / RoundReports)).map { r =>
      val cache = work.resolve(s"cache-$tag-$r")
      rng.shuffle(Seq.fill(nSql / 2)(sqlReport("with_m90_q35")) ++
        Seq.fill(nSql - nSql / 2)(sqlReport("with_m90_q85")) ++
        tables.zip(counts).flatMap { case (t, c) => Seq.fill(c)(report(t, cache)) })
    }
  }

  def probes(): Seq[Probe] = {
    val li = Tables(spark, stage.toString, "lineitem")
      .select(col("l_quantity"), col("l_tax"), col("l_discount"))
      .withColumn("r", explode(sequence(lit(1), lit(ProbeReplicas)))).drop("r").cache()
    li.count()
    val a = col("l_quantity"); val am = lit(1.0) + lit(10.0) * col("l_tax")
    val b = lit(100.0) * col("l_discount"); val bm = lit(1.0) + lit(5.0) * col("l_tax")
    val s = AcsMath.sumM(Seq((a, am), (b, bm)))
    val p = AcsMath.proportion(b, bm, a, am)
    Seq(Probe("acs_sum_m", li, struct(s.est, s.m90)), Probe("acs_proportion", li, struct(p.est, p.m90)))
  }

  def check(traced: Boolean): Seq[String] =
    baselineFailures() ++ reDeriveFailures() ++ Workload.unstable(sqlDigests) ++
      (if (reports.isEmpty) Seq("no census report completed") else Nil)

  /** The ACS handbook constants of BASELINE.md, recomputed through
    * `CensusFrame` from the test fixtures.
    */
  private def baselineFailures(): Seq[String] = {
    def frame(name: String) = CensusFrame(spark.read.option("header", "true")
      .option("inferSchema", "true").csv(repo.resolve(s"src/test/resources/acs/$name.csv").toString))
    def one(cf: CensusFrame, p: AcsMath.EstM90): (Double, Double) = {
      val r = cf.df.select(p.est.cast("double"), p.m90.cast("double")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    def near(x: Double, want: Double, places: Int) =
      math.abs(x - want) <= 0.5 * math.pow(10, -places) + 1e-12
    val agg = frame("agg"); val prop = frame("prop"); val ratio = frame("ratio")
    val prod = frame("product")
    Seq(
      ("sumM", one(agg, agg.sumM("a", "b", "c")), (89008.0, 0), (4289.0, 0)),
      ("proportion", one(prop, prop.proportion("a", "b")), (0.1461, 3), (0.0311, 4)),
      ("ratio", one(ratio, ratio.ratio("a", "b")), (0.719565, 4), (0.213545, 4)),
      ("product", one(prod, prod.product("a", "b")), (6784.0, 0), (1405.0, 0))
    ).collect {
      case (name, (e, m), (we, pe), (wm, pm))
          if !near(e, we, pe) || !near(m, wm, pm) =>
        s"baseline $name: got $e ± $m, want $we ± $wm"
    }
  }

  /** Every distinct report's county rows re-derived in plain Scala from
    * its JSON (no Spark), compared at a relative tolerance that only
    * allows summation order.
    */
  private def reDeriveFailures(): Seq[String] = reports.toSeq.sortBy(_._1).flatMap { case (tid, rows) =>
    val want = CensusWorkload.expected(
      new String(Files.readAllBytes(stage.resolve(s"tables/$tid.json")), StandardCharsets.UTF_8), tid)
    val got = rows.map(r => r.getString(0) -> OutCols.indices.map(i => r.getDouble(i + 1)).toVector).toMap
    if (got.keySet != want.keySet) Seq(s"report $tid: counties ${got.keySet} != ${want.keySet}")
    else want.toSeq.flatMap { case (county, w) =>
      OutCols.indices.collect {
        case i if math.abs(got(county)(i) - w(i)) > 1e-9 * math.max(1.0, math.abs(w(i))) =>
          s"report $tid county $county ${OutCols(i)}: got ${got(county)(i)}, want ${w(i)}"
      }
    }
  }
}

object CensusWorkload {
  /** Whole numbers summing to the rounded total of `shares`. */
  def largestRemainder(shares: Seq[Double]): Seq[Int] = {
    val floors = shares.map(_.toInt)
    val extra = shares.indices.sortBy(i => floors(i) - shares(i)).take(shares.sum.round.toInt - floors.sum).toSet
    floors.indices.map(i => floors(i) + (if (extra(i)) 1 else 0))
  }

  val Kinds = Seq("census_table", "with_m90_q35", "with_m90_q85")
  /** Nominal report rate on a 4-core box: sizes the fixed schedule so a
    * run measures about `--seconds`, but never fewer than [[MinReports]].
    */
  val ReportsPerSecond = 2.0
  /** Enough reports that at least ten lie beyond the 90th percentile. */
  val MinReports = 100
  /** Reports per round: every table at least once, four SQL reports. */
  val RoundReports = 20
  val ProbeReplicas = 3

  val OutCols = Seq("s", "s_m90", "p", "p_m90", "r", "r_m90", "x", "x_m90", "s_rse")

  /** The report's derivation: margin pairs over lines 001-003, RSE, then a
    * margin-aware sum by county (geoid digits 10-12). The few county rows
    * are left unordered; the report sorts them after collecting.
    */
  def derive(cf: CensusFrame): CensusFrame = {
    val g = cf.copy(df = cf.df.withColumn("county", substring(col("geoid"), 10, 3)))
    val w = g.withPairs("s" -> g.sumM("002", "003"), "p" -> g.proportion("002", "001"),
      "r" -> g.ratio("003", "001"))
    val x = w.withPairs("x" -> w.product("001", "p")).addRse("s").fillNaMargins()
    val summed = CensusFrame(x.df.select(("county" +: OutCols).map(col): _*), x.release)
      .groupBySum("county")
    summed.copy(df = summed.df.select(("county" +: OutCols).map(col): _*))
  }

  /** Plain-Scala twin of [[derive]] over the raw JSON. */
  def expected(json: String, tid: String): Map[String, Vector[Double]] = {
    import org.json4s._
    val data = org.json4s.jackson.JsonMethods.parse(json)
    val JObject(geos) = data \ "data"
    def num(v: JValue): Double = v match {
      case JInt(x) => x.toDouble; case JDouble(x) => x; case JDecimal(x) => x.toDouble
      case JLong(x) => x.toDouble; case other => sys.error(s"not a number: $other")
    }
    val perGeo = geos.map { case (geo, v) =>
      def em(line: Int): (Double, Double) = {
        val code = f"$tid$line%03d"
        (num(v \ tid \ "estimate" \ code), num(v \ tid \ "error" \ code))
      }
      val ((e1, m1), (e2, m2), (e3, m3)) = (em(1), em(2), em(3))
      val s = e2 + e3; val sm = math.sqrt(m2 * m2 + m3 * m3)
      val p = e2 / e1
      val rad = m2 * m2 - p * p * (m1 * m1)
      val pm = if (rad >= 0) math.sqrt(rad) / e1 else math.sqrt(m2 * m2 + p * p * (m1 * m1)) / e1
      val r = e3 / e1; val rm = math.sqrt(m3 * m3 + r * r * (m1 * m1)) / e1
      val x = e1 * p; val xm = math.sqrt(e1 * e1 * (pm * pm) + p * p * (m1 * m1))
      geo.substring(9, 12) -> Vector(s, sm, p, pm, r, rm, x, xm, sm / 1.645 / s * 100.0)
    }
    perGeo.groupBy(_._1).map { case (county, vs) =>
      county -> OutCols.indices.map { i =>
        if (OutCols(i).endsWith("_m90")) math.sqrt(vs.map(v => v._2(i) * v._2(i)).sum)
        else vs.map(_._2(i)).sum
      }.toVector
    }
  }
}

/** The pretrain-prep chain: batch q160 and q161 over the seeded replica
  * corpus, warmed up with the same two ops. The traced run adds the
  * `PretrainStream` twin (id-ordered micro-batches staged ahead, then
  * finalization); it runs there without a warm-up of its own.
  */
final class PretrainWorkload(spark: SparkSession, stage: Path, work: Path, seed: Long,
    trace: Tracer, nDocs: Long) extends Workload {
  import PretrainWorkload._

  private val corpus = stage.toString
  val warmPasses = 1
  private val digests = mutable.LinkedHashMap[String, mutable.Buffer[String]]()
  private var opCount = 0

  private def record(key: String, d: String): Unit =
    digests.getOrElseUpdate(key, mutable.Buffer()) += d

  private def batch(kind: String, dir: String): Op = Op(kind, nDocs, () => {
    val q = if (kind == "q160") "q160_pretrain_e2e" else "q161_pretrain_e2e_rep"
    val df = trace(s"queries.$q") { SparkEntry.queries(q)(spark, dir) }
    record(s"$kind@$dir", trace("queries.collect") { Workload.digest(df) })
  })

  /** Stage-2 survivor ids of the batch chain, with stages 1-2 pinned by
    * the benchmark; the chain is cut off after stage 2. Untimed: only
    * [[check]] calls it.
    */
  private def stage2Survivors(kind: String): Set[Long] = {
    var ids = Set.empty[Long]
    try PipelineQueries.q160Frame(spark, corpus, PipelineQueries.Q160Budget,
      stageRun = Some((i, _, mk) => {
        val pinned = mk().localCheckpoint()
        if (i == 2) {
          ids = pinned.collect().map(_.getLong(0)).toSet
          throw StopAfterStage2
        }
        pinned
      }), repAnchoredNearDup = kind == "q161")
    catch { case StopAfterStage2 => () }
    ids
  }

  private def stream(dir: String, tag: String): Op = Op("pretrain_stream", nDocs, () => {
    opCount += 1
    val root = work.resolve(s"stream-$tag-$opCount").toString
    val docs = Tables(spark, dir, "documents")
    val sinkH = PretrainStream.sink(docs, EvalPred, s"perfbench:$root",
      s"$root/labels", s"$root/store")
    trace("streaming.ingest") {
      val q = PretrainStream.signals(DocsStream.readStream(spark, s"$dir/stream"), docs)
        .writeStream.option("checkpointLocation", s"$root/checkpoint")
        .foreachBatch((b: DataFrame, e: Long) => sinkH.fn(b, e)).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }
    sinkH.release()
    val out = trace("streaming.finalize") {
      Workload.digest(PretrainStream.q160Output(spark, s"$root/store", s"$root/labels",
        PipelineQueries.Q160Budget))
    }
    record(s"pretrain_stream@$dir", out)
  })

  def warmPass(p: Int): Seq[Op] = new scala.util.Random(seed + p).shuffle(
    Seq(batch("q160", corpus), batch("q161", corpus)))

  def rounds(seconds: Int, tag: String, traced: Boolean): Seq[Seq[Op]] = {
    val rng = new scala.util.Random(seed)
    val n = if (traced) 1 else math.max(1, (seconds / PassSeconds).round.toInt)
    (1 to n).map(_ =>
      rng.shuffle(Seq(batch("q160", corpus), batch("q161", corpus))))
  }

  override def tracedExtra(tag: String): Seq[Op] = Seq(stream(corpus, tag))

  def probes(): Seq[Probe] = {
    val text = Tables(spark, corpus, "documents").select(col("text"))
      .withColumn("r", explode(sequence(lit(1), lit(ProbeReplicas)))).drop("r").cache()
    text.count()
    val t = col("text")
    Seq(
      Probe("gram_hash_array", text, TextFunctions.gramHashArray(t, 8)),
      Probe("minhash_sig", text, TextFunctions.minhashSigNative(t, 8)),
      Probe("md5_hash32", text, TextFunctions.hash32Native(t)),
      Probe("nfc_canon", text,
        trim(regexp_replace(lower(TextFunctions.nfcNormalize(t)), "\\s+", " "))),
      Probe("tokens", text, TextOps.tokens(t)))
  }

  /** Output digests stable across passes. A traced run, where the stream
    * ran, also checks its finalized output equal to batch q161 on the same
    * corpus, and q161's stage-2 survivors a superset of q160's: rerunning
    * stages 1-2 of both chains takes 6-7 s, a tenth of an untraced run.
    */
  def check(traced: Boolean): Seq[String] = {
    val parity = digests.get(s"pretrain_stream@$corpus").toSeq.flatMap { s =>
      val b = digests(s"q161@$corpus")
      if (s.head == b.head) Nil else Seq(s"stream != batch q161: ${s.head} vs ${b.head}")
    }
    val superset = if (!traced) Nil else {
      val (a, b) = (stage2Survivors("q160"), stage2Survivors("q161"))
      if (a.isEmpty) Seq("no stage-2 survivors captured")
      else if (a.subsetOf(b)) Nil
      else Seq(s"q161 stage-2 survivors lost q160's: ${(a diff b).take(5)}")
    }
    Workload.unstable(digests) ++ parity ++ superset
  }
}

object PretrainWorkload {
  private object StopAfterStage2 extends scala.util.control.ControlThrowable
  val Kinds = Seq("q160", "q161", "pretrain_stream")
  /** Nominal wall time of one pass (q160 + q161) on a 4-core box: sizes
    * the fixed schedule so a run measures about `--seconds`.
    */
  val PassSeconds = 16.0
  val ProbeReplicas = 3
  val EvalPred: Column = col("doc_id") % 10 === 7
}
