package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Cold-vs-warm pass meter: one JVM, one closed-loop client.
  *
  * Runs one cold pass over the workload's query list (empty
  * `SessionCache`s, empty artifact root), then warm passes until the
  * measuring time is used up. Each query is timed as the call
  * `SparkEntry.queries(name)(spark, dir)` (construct) plus
  * `queryExecution.toRdd.count()` (read) — the action `graft.Bench`
  * times. The pass order is a per-pass shuffle drawn from the seed.
  *
  * After the timed passes, each query's result and its DuckDB oracle
  * SQL are written under `gate=` for the harness's output gate.
  *
  * Arguments are `key=value` pairs; see `perfbench/run.py`, which
  * launches this main and turns its report file into metrics.
  */
object PassMeter {
  /** Warm passes run until the measuring time is used up, at least this many. */
  val MinWarm = 3
  /** The kernel corpus of the `functions` probe: the documents this many times. */
  val CorpusCopies = 40

  final case class Sample(query: String, construct: Double, read: Double,
      error: Option[String])

  /** A workload table, through the library's own loader. */
  def table(spark: SparkSession, dir: String, name: String): org.apache.spark.sql.DataFrame =
    if (name == "events") graft.Tables.events(spark, dir) else graft.Tables(spark, dir, name)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = kv("dir")
    val queries = kv("queries").split(",").toSeq
    val tables = kv("tables").split(",").toSeq
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("local_dir"))
      .config("spark.graft.artifacts.dir", kv("artifacts_dir"))
      .config("spark.sql.warehouse.dir", kv("local_dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val trace = if (traced) Some(new Trace(spark, cores)) else None

    // Table-open warmup (part of set-up): the first action on each
    // table pays codegen and parquet-footer start-up, not any query's.
    tables.foreach(t => table(spark, dir, t).count())
    val setupEndMs = System.currentTimeMillis()

    val entry = graft.SparkEntry.queries
    // In the traced run, warm passes alternate traced and untraced
    // (the cold pass is traced), so the tracing overhead is measured
    // in one JVM.
    def tracedPass(pass: Int): Boolean = trace.isDefined && pass % 2 == 0
    def runQuery(q: String, pass: Int): Sample = {
      val tr = trace.filter(_ => tracedPass(pass))
      def within[T](layer: String, name: String)(body: => T): T =
        tr.fold(body)(_.span(layer, name)(body))
      val span = tr.map(_.begin(s"$pass/$q", "query", q))
      val t0 = System.nanoTime()
      try {
        if (pass == 0) spark.sparkContext.setLocalProperty(JobCounter.Prop, "cold")
        val df =
          try within("queries", "construct")(entry(q)(spark, dir))
          finally spark.sparkContext.setLocalProperty(JobCounter.Prop, null)
        val t1 = System.nanoTime()
        within("stages", "read")(df.queryExecution.toRdd.count())
        val t2 = System.nanoTime()
        Sample(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
      } catch {
        case e: Throwable =>
          Sample(q, 0, (System.nanoTime() - t0) / 1e9,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
      } finally for (s <- span; t <- tr) t.end(s)
    }
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    def storageMb(): Double = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    var storagePeak = 0.0
    val passes = ArrayBuffer.empty[(Double, Seq[Sample])]
    def onePass(): Double = {
      val p0 = System.nanoTime()
      val samples = order(passes.size).map { q =>
        val r = runQuery(q, passes.size)
        if (trace.isDefined) storagePeak = storagePeak max storageMb()
        r
      }
      val wall = (System.nanoTime() - p0) / 1e9
      passes += wall -> samples
      wall
    }
    onePass()
    var warm = 0.0
    while (passes.size <= MinWarm || warm < seconds) warm += onePass()

    // Storage still pinned by cached or checkpointed blocks, after the
    // garbage the passes left is collected (unreferenced local
    // checkpoints are dropped by the ContextCleaner, which runs on GC).
    System.gc(); Thread.sleep(500)
    val pinnedMb = storageMb()

    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> jvmStartMs, "main_ms" -> mainMs,
      "session_ms" -> sessionMs, "setup_end_ms" -> setupEndMs,
      "cores" -> cores,
      "passes" -> passes.zipWithIndex.map { case ((wall, ss), i) =>
        Map("wall_s" -> wall, "traced" -> tracedPass(i), "queries" -> ss.map(s => Map(
          "query" -> s.query, "construct_s" -> s.construct,
          "read_s" -> s.read, "error" -> s.error)))
      },
      "pinned_mb" -> pinnedMb,
      "artifact_builds" -> graft.operators.ArtifactStore.builds,
      "construct_jobs" -> jobs.constructJobs.get(),
      "storage_mb_peak" -> storagePeak)
    trace.foreach { t =>
      val p = new Probes(spark, dir, seed, t)
      val probe = p.sources(tables) ++ p.functions(CorpusCopies, 3) ++
        p.operators() ++ p.plans() ++ p.streaming()
      report("probes") = probe
      report ++= t.report()
    }

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    // Output gate inputs, outside the timed region.
    kv.get("gate").foreach { gate =>
      new java.io.File(gate).mkdirs()
      queries.foreach { q =>
        try entry(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$gate/$q")
        catch { case e: Throwable => System.err.println(s"[gate] $q failed: $e") }
      }
      val oracle = graft.SparkEntry.oracleSqlFor(dir).filter(e => queries.contains(e._1))
      Files.writeString(Paths.get(s"$gate/oracle_sql.json"), json.writeValueAsString(oracle))
    }
    Files.writeString(Paths.get(kv("out")), json.writeValueAsString(report))
    spark.stop()
  }
}

/** Counts the jobs the cold pass launches while constructing (not
  * reading) its queries: those submitted with [[JobCounter.Prop]] set. */
final class JobCounter extends org.apache.spark.scheduler.SparkListener {
  val constructJobs = new java.util.concurrent.atomic.AtomicLong
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(JobCounter.Prop) != null))
      constructJobs.incrementAndGet()
}

object JobCounter { val Prop = "perfbench.cold_construct" }
