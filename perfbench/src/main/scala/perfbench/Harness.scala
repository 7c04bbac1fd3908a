package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.pipeline.Climate
import graft.queries.{ClimateQueries, SharedGraph, TextQueries}
import graft.sources.Sinks

/** One timed operation of a pass. */
final case class OpSample(name: String, seconds: Double, ok: Boolean, error: String)

/** State shared by the workloads of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
                val work: Path) {
  def span[T](name: String, tags: (String, String)*)(body: => T): T =
    tracer.span(name, tags: _*)(body)

  /** Run `body` as one operation of a pass, timed and with its error kept. */
  def op(name: String)(body: => Unit): OpSample = {
    val t0 = System.nanoTime()
    val err = try { body; "" } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    OpSample(name, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
  }
}

/** A workload: what set-up and one pass do. `check` marks the one pass per
  * process whose outputs go to disk for the output check; it is the
  * discarded warm-up pass, so no timed pass pays for it.
  */
trait Workload {
  def setupTables(c: Ctx): Unit
  def setupArtifacts(c: Ctx): Unit = ()
  /** Traced runs only: re-run the artifact step on the built directory. */
  def reuseArtifacts(c: Ctx): Unit = ()
  def pass(c: Ctx, no: Int, check: Boolean): Seq[OpSample]
  /** Written after the check pass, for the output check. */
  def checkFacts(c: Ctx): Seq[(String, Long)]
  /** Bytes a timed pass left on disk, which is then removed. */
  def discardPass(c: Ctx, no: Int): Long = 0L
  /** Discarded passes before timing, the check pass included: enough for
    * the JIT to settle. Pass times fall for the first four or five passes
    * of a process; timing them would measure how fast the JIT caught up
    * on a busy host rather than the engine. */
  def warmupPasses: Int
}

/** The LLM-data-pipeline operators: registered queries forced through the
  * noop sink, probing the stored text indexes built in set-up. The vector
  * indexes (`SimilarityQueries.prewarmStoredIndexes`) are left out: their
  * build alone takes about 20 s cold at this scale, more than a run can
  * spend. */
class CurationWorkload(names: Seq[String]) extends Workload {
  private lazy val registry = SparkEntry.queries ++ SparkEntry.benchOnly
  val warmupPasses = 3
  private def checkDir(c: Ctx): Path = c.work.resolve("check")

  def setupTables(c: Ctx): Unit = Seq("documents", "embeddings").foreach { t =>
    c.span("tables", "table" -> t) {
      graft.core.Tables.loadNormalized(c.spark, c.data, t).limit(1).count()
    }
  }

  override def setupArtifacts(c: Ctx): Unit =
    c.span("artifacts")(TextQueries.prewarmStoredIndexes(c.spark, c.data))
  override def reuseArtifacts(c: Ctx): Unit =
    c.span("artifacts.reuse")(TextQueries.prewarmStoredIndexes(c.spark, c.data))

  def pass(c: Ctx, no: Int, check: Boolean): Seq[OpSample] = names.map { n =>
    c.op(n) {
      c.span("op", "name" -> n) {
        val fn = registry.getOrElse(n, throw new NoSuchElementException(s"no registered query $n"))
        val df = c.span("build")(fn(c.spark, c.data))
        c.span("exec") {
          if (check) df.coalesce(1).write.mode("overwrite").parquet(checkDir(c).resolve(n).toString)
          else df.write.format("noop").mode("overwrite").save()
        }
      }
    }
  }

  /** Oracle SQL of the pinned queries, plus the staged tables it reads. */
  def checkFacts(c: Ctx): Seq[(String, Long)] = {
    val absOut = checkDir(c).toAbsolutePath.toString
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    SparkEntry.staged.keys
      .filter(k => oracle.values.exists(_.contains(s"${ClimateQueries.OutToken}/$k/")))
      .foreach { k =>
        SparkEntry.staged(k)(c.spark, c.data).coalesce(1).write.mode("overwrite")
          .parquet(checkDir(c).resolve(k).toString)
      }
    Harness.writeJson(checkDir(c).resolve("oracle_sql.json"),
      oracle.map { case (k, v) => k -> v.replace(ClimateQueries.OutToken, absOut) })
    Nil
  }
}

object CurationWorkload {
  /** The registered queries the workload runs, pinned by name. */
  val queries: Seq[String] = Seq(
    "t05_exact_dedup", "t07_minhash_lsh", "t55_prefix_pairs_stored",
    "s01_cosine_topk", "s04_ann_ivf")
}

/** The paper's batch job: raw text → bronze → silver → four gold tables,
  * each written as parquet and as a single-file CSV, into a fresh
  * directory per pass. */
class MedallionWorkload extends Workload {
  private def berkeley(c: Ctx) = s"${c.data}/berkeley_daily.txt"
  private def stations(c: Ctx) = s"${c.data}/ghcnd_stations.txt"
  def passDir(c: Ctx, no: Int): Path = c.work.resolve(s"medallion/pass-$no")
  val warmupPasses = 4

  def setupTables(c: Ctx): Unit = Seq(berkeley(c), stations(c)).foreach { p =>
    c.span("tables", "table" -> p)(c.spark.read.text(p).count())
  }

  def pass(c: Ctx, no: Int, check: Boolean): Seq[OpSample] = {
    val out = passDir(c, no)
    var gold: Option[Climate.Gold] = None
    val build = c.op("pipeline.build") {
      gold = Some(c.span("pipeline.build")(Climate.run(c.spark, berkeley(c), stations(c))))
    }
    build +: gold.toSeq.flatMap { g =>
      val tables = Seq("climate_kpis" -> g.kpis, "stations_dim" -> g.stationsDim,
        "climate_anomalies_monthly" -> g.fact, "climate_extremes" -> g.extremes)
      val ops = tables.map { case (n, df) =>
        c.op(s"parquet.$n")(c.span("sources.parquet", "table" -> n)(
          Sinks.parquetOverwrite(df, out.resolve(s"gold/$n").toString)))
      } ++ tables.map { case (n, df) =>
        c.op(s"csv.$n")(c.span("sources.csv", "table" -> n)(
          Sinks.singleFileCsv(df, out.resolve(s"csv/$n").toString)))
      }
      g.lineage.unpersist(blocking = true)
      ops
    }
  }

  /** Bronze and silver row counts; the gold tables are read from disk. */
  def checkFacts(c: Ctx): Seq[(String, Long)] = {
    val bronzeB = Climate.ingestText(c.spark, berkeley(c), "Berkeley_Earth")
    val bronzeS = Climate.ingestText(c.spark, stations(c), "NOAA_Stations")
    Seq(
      "bronze_berkeley_rows" -> bronzeB.count(),
      "bronze_station_rows" -> bronzeS.count(),
      "silver_berkeley_rows" -> Climate.berkeleySilver(bronzeB).count(),
      "silver_station_rows" -> Climate.stationsSilver(bronzeS).count())
  }

  override def discardPass(c: Ctx, no: Int): Long = {
    val bytes = Harness.treeBytes(passDir(c, no).toFile)
    Harness.deleteTree(passDir(c, no).toFile)
    bytes
  }
}

/** Entry point, launched by run.py:
  * `--workload medallion|curation --seed N --seconds S --trace 0|1
  *  --cpus N --data DIR --work DIR`; writes DIR/result.json (and
  * DIR/trace.json when tracing).
  */
object Harness {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum else f.length

  private def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def writeJson(p: Path, value: AnyRef): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, Serialization.write(value)(DefaultFormats))
  }

  private def opJson(o: OpSample): Map[String, Any] =
    Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val tmp = Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val workload: Workload = name match {
      case "medallion" => new MedallionWorkload
      case "curation" =>
        new CurationWorkload(new scala.util.Random(seed).shuffle(CurationWorkload.queries))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val c = new Ctx(spark, new Tracer(trace, spark), opt("data"), work)

    // set-up: session (above), first table reads, artifacts from an empty tmpdir
    val tablesS = timed(c.span("setup.tables")(workload.setupTables(c)))
    val artifactsS = timed(c.span("setup.artifacts")(workload.setupArtifacts(c)))
    // the engine's stored indexes; the tmpdir also holds native libraries
    // that compression codecs unpack there
    val artifactMb = Option(tmp.toFile.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(treeBytes).sum / 1e6
    if (trace) workload.reuseArtifacts(c)

    // memos are released at every pass boundary so each pass does the same work
    def boundary(): Unit = {
      ClimateQueries.releaseBenchLineage()
      TextQueries.releaseSharedDedup()
      SharedGraph.release()
      System.gc()
    }
    var checkOps: Seq[OpSample] = Nil
    val warmupS = timed(c.span("warmup") { checkOps = workload.pass(c, 0, check = true) })
    boundary()
    val facts = workload.checkFacts(c)
    boundary()
    val warmup2S = (1 until workload.warmupPasses).map { i =>
      val s = timed(c.span("warmup")(workload.pass(c, -i, check = false)))
      workload.discardPass(c, -i)
      boundary()
      s
    }

    final case class Pass(no: Int, wall: Double, ops: Seq[OpSample], span: Int, outMb: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    var no = 1
    // at least three passes, so the median drops one slow pass
    while (passes.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      var ops: Seq[OpSample] = Nil
      val span = c.tracer.spans.size
      val wall = timed(c.span("pass", "no" -> no.toString) { ops = workload.pass(c, no, check = false) })
      passes += Pass(no, wall, ops, span, workload.discardPass(c, no) / 1e6)
      boundary()
      no += 1
    }
    c.tracer.finish()

    val result = mutable.Map[String, Any](
      "workload" -> name, "seed" -> seed, "nproc" -> cpus,
      "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> os.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "session_s" -> sessionS, "tables_s" -> tablesS,
      "artifacts_s" -> artifactsS, "artifact_mb" -> artifactMb,
      "warmup_s" -> (warmupS + warmup2S.sum),
      "warmup_walls_s" -> (warmupS +: warmup2S),
      "check_ops" -> checkOps.map(opJson),
      "check_facts" -> facts.toMap,
      "passes" -> passes.toSeq.map(p => Map(
        "no" -> p.no, "wall_s" -> p.wall, "out_mb" -> p.outMb, "ops" -> p.ops.map(opJson))),
      "jvm_heap_peak_mb" -> heapPeakMb, "jvm_gc_s" -> gcSeconds)
    if (trace) {
      def pairs(xs: Seq[(Double, Double)]) = xs.map { case (sec, jobs) => Seq(sec, jobs) }
      result += "layers" -> passes.toSeq.map(p => Layers.perPass(c.tracer, p.span, cpus))
      result += "artifact_builds" -> pairs(Layers.named(c.tracer, "artifacts"))
      result += "artifact_reuses" -> pairs(Layers.named(c.tracer, "artifacts.reuse"))
      writeJson(work.resolve("trace.json"), c.tracer.spans.toSeq.map(Layers.spanJson))
    }
    writeJson(work.resolve("result.json"), result.toMap)
    spark.stop()
  }
}
