package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.perfbench.BusDrain
import graft.core.{Pin, QueryDef}

/** The benchmark JVM. One SparkSession, one driver thread running the
  * workload's queries back to back: a cold pass, a warm-up pass, then
  * steady passes until `--seconds` of steady time is spent (at least
  * `--min-steady` passes). The warm-up pass is not measured: after the
  * cold pass the JIT still compiles for about one more pass (9 s of
  * compile time during a 11 s climate pass, then 3-4 s per pass).
  * Each query execution is two timed calls, construct
  * (`QueryDef.production`) and materialize (a `noop` write of every
  * output column), followed by releasing every pin and cached frame.
  *
  * Usage (run.py builds the command line):
  *   perfbench.Harness --t0-us <launch time, epoch µs> --cores N
  *     --out result.json --sf dir --queries q1,q2 --seed n --seconds s
  *     --min-steady k --trace 0|1
  *     [--verify-dir dir]
  *
  * Set-up time runs from `--t0-us` until the session is built.
  * With `--trace 1` the Tracer listeners record spans and counters on
  * alternate steady passes (and the cold pass); the other steady passes
  * run with no listener of ours registered, which prices the tracing.
  * `--verify-dir` dumps the workload queries with `graft.Verify` after the
  * timed passes, for the oracle check run.py makes.
  */
object Harness {

  final case class Exec(query: String, ok: Boolean, error: String,
      constructS: Double, materializeS: Double, pins: Int, cacheClean: Boolean,
      var constructJobs: Int = -1, var executeJobs: Int = -1)

  final case class Pass(index: Int, kind: String, traced: Boolean,
      order: Seq[String], wallS: Double, execs: Seq[Exec],
      jitMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Us = opt("t0-us").toLong
    val cores = opt("cores").toInt
    val spark = session(cores)
    val readyUs = Clock.nowUs
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (readyUs - t0Us) / 1e6, "cores" -> cores)
    out ++= run(spark, opt, t0Us, readyUs, cores)
    write(opt("out"), out)
    spark.stop()
    sys.exit(0)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the repository's bench session setting: the default 100-entry
      // codegen cache evicts across a pass and recompiles every stage
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", Paths.get("local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(spark: SparkSession, opt: Map[String, String], t0Us: Long,
      readyUs: Long, cores: Int): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val sf = opt("sf")
    val queries = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val minSteady = opt("min-steady").toInt
    val tracer = if (opt("trace") == "1") Some(new Tracer) else None
    val defs: Map[String, QueryDef] = graft.SparkEntry.defs.map(d => d.name -> d).toMap
    val unknown = queries.filterNot(defs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    tracer.foreach(t => t.record(Span(t.nextId(), 0, "setup", "setup", t0Us, readyUs)))

    def listen(t: Tracer, on: Boolean): Unit =
      if (on) { sc.addSparkListener(t); spark.listenerManager.register(t) }
      else { sc.removeSparkListener(t); spark.listenerManager.unregister(t) }

    // No pass may read another pass's cache: before every execution the
    // session's CacheManager and the Pin registry must both be empty.
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def execute(pass: Int, q: String, tr: Option[Tracer], parent: Long): Exec = {
      val key = s"p$pass:$q"
      val cacheClean = cacheManager.isEmpty && Pin.liveCount == 0
      val qSpan = tr.map(_.nextId()).getOrElse(0L)
      val qStart = Clock.nowUs
      tr.foreach(_.current = key)
      def phase(name: String)(body: => Unit): Double = {
        val group = s"$key:$name"
        sc.setJobGroup(group, q, interruptOnCancel = false)
        val id = tr.map(_.nextId()).getOrElse(0L)
        tr.foreach(_.openGroup(group, id))
        val s = Clock.nowUs
        try body
        finally tr.foreach(_.record(Span(id, qSpan, name, q, s, Clock.nowUs)))
        (Clock.nowUs - s) / 1e6
      }
      var constructS, materializeS = 0.0
      val err = try {
        var df: DataFrame = null
        constructS = phase("construct") { df = defs(q).production(spark, sf) }
        tr.foreach(_.constructed(key,
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution))
        materializeS = phase("materialize") {
          df.write.format("noop").mode("overwrite").save()
        }
        null
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $q failed in pass $pass: $e")
          String.valueOf(e).take(500)
      }
      val pins = Pin.liveCount
      Pin.releaseAll()
      spark.catalog.clearCache()
      sc.clearJobGroup()
      tr.foreach { t =>
        BusDrain(sc)
        t.current = null
        t.record(Span(qSpan, parent, "query", q, qStart, Clock.nowUs))
      }
      Exec(q, err == null, err, constructS, materializeS, pins, cacheClean)
    }

    val jit = ManagementFactory.getCompilationMXBean
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val passes = mutable.ArrayBuffer.empty[Pass]
    val jitAtReady = jit.getTotalCompilationTime
    val gcAtReady = gcMs

    def pass(kind: String, traced: Boolean): Pass = {
      val index = passes.size
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(queries)
      val tr = if (traced) tracer else None
      tr.foreach(listen(_, on = true))
      val pSpan = tr.map(_.nextId()).getOrElse(0L)
      val start = Clock.nowUs
      val execs = order.map(q => execute(index, q, tr, pSpan))
      val end = Clock.nowUs
      tr.foreach { t =>
        t.record(Span(pSpan, 0, "pass", s"$kind $index", start, end))
        BusDrain(sc)
        listen(t, on = false)
      }
      // job counts per phase from Spark's own status store, traced or not
      BusDrain(sc)
      execs.foreach { e =>
        val key = s"p$index:${e.query}"
        e.constructJobs = sc.statusTracker.getJobIdsForGroup(s"$key:construct").length
        e.executeJobs = sc.statusTracker.getJobIdsForGroup(s"$key:materialize").length
      }
      val p = Pass(index, kind, traced, order, (end - start) / 1e6, execs,
        jit.getTotalCompilationTime, gcMs)
      passes += p
      System.err.println(f"[perfbench] $kind pass $index%d traced=$traced ${p.wallS}%.3f s")
      p
    }

    pass("cold", traced = tracer.isDefined)
    pass("warm", traced = false)
    var steadyS = 0.0
    var steady = 0
    while (steady < minSteady || steadyS < seconds) {
      // traced runs alternate traced and untraced steady passes
      steadyS += pass("steady", traced = tracer.isDefined && steady % 2 == 0).wallS
      steady += 1
    }

    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val codeCacheB = pools.filter(p => p.getType == MemoryType.NON_HEAP &&
      p.getName.contains("Code")).map(_.getUsage.getUsed).sum
    val heapPeakB = pools.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val jvm = Seq(
      "jit_ms_at_ready" -> jitAtReady, "gc_ms_at_ready" -> gcAtReady,
      "code_cache_bytes" -> codeCacheB, "heap_peak_bytes" -> heapPeakB,
      "vm_hwm_kb" -> vmHwmKb)

    val verifyStart = Clock.nowUs
    val verify = opt.get("verify-dir").map { dir =>
      try { graft.Verify.main(Array(sf, dir, queries.mkString(","))); "ok" }
      catch { case NonFatal(e) => String.valueOf(e) }
    }
    val verifyS = (Clock.nowUs - verifyStart) / 1e6

    Seq(
      "queries" -> queries,
      "passes" -> passes.map { p =>
        Map("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
          "order" -> p.order, "wall_s" -> p.wallS, "jit_ms" -> p.jitMs,
          "gc_ms" -> p.gcMs,
          "execs" -> p.execs.map { e =>
            Map("query" -> e.query, "ok" -> e.ok, "error" -> e.error,
              "construct_s" -> e.constructS, "materialize_s" -> e.materializeS,
              "pins" -> e.pins, "cache_clean" -> e.cacheClean,
              "construct_jobs" -> e.constructJobs,
              "execute_jobs" -> e.executeJobs)
          })
      },
      "jvm" -> jvm.toMap,
      "verify" -> verify.orNull,
      "verify_s" -> verifyS
    ) ++ tracer.map { t =>
      "trace" -> Map(
        "spans" -> t.spans.map(s => Seq(s.id, s.parent, s.kind, s.name, s.startUs, s.endUs)),
        "phases" -> t.phases.map { case (k, c) => k -> c.fields.toMap },
        "plans" -> t.plans.map { case (k, c) => k -> c.fields.toMap })
    }
  }

  /** Peak resident set of this JVM (VmHWM), in kB; -1 where /proc is absent. */
  private def vmHwmKb: Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }

  private def write(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), v)
}
