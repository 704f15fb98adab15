package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: builds the shipped session, runs one
  * workload's `SparkEntry.queries` keys in passes, and writes every raw
  * timing, span and listener record to one JSON file. All statistics
  * are computed from that file by `perfbench/stats.py`.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --check DIR --out FILE
  */
object Harness {
  /** Each workload is a closed loop over its keys; see
    * perfbench/README.md for why each was chosen. */
  val workloads: Map[String, Seq[String]] = Map(
    "telemetry_stream" -> Seq("stream_frame_stats", "stream_chunks", "stream_power",
      "stream_downsample", "stream_ttl", "dedup_exact_stream"),
    "corpus_dedup" -> Seq("dedup_minhash", "dedup_exact", "ann_lsh", "ann_brute",
      "text_lexdiv"))

  /** Workloads whose keys run as one closed-loop client per core, the
    * wave shape of graft.Bench's streaming family. */
  val concurrent: Set[String] = Set("telemetry_stream")

  /** Seconds one timed pass takes at local[4]. A run times
    * round(--seconds / this) passes, at least three, so that every run
    * of a workload pools the same number of samples whatever the
    * machine's speed. */
  val nominalPassS: Map[String, Double] = Map("telemetry_stream" -> 9.0, "corpus_dedup" -> 3.0)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val keys = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors
    val clients = if (concurrent(workload)) cpus else 1

    val sessionStart = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.registerObservationLog(spark)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val runner = new Runner(spark, data)
    // The warm pass also feeds the output check: it writes each key's
    // result as parquet, with the oracle's SQL beside it, outside the
    // timed passes.
    val checkDir = opt("check")
    val warm = runner.pass("warm", keys, clients, Some(checkDir))
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }))
    val setupS = jvmUpS + (System.nanoTime() - t0) / 1e9

    val rng = new scala.util.Random(seed)
    // A traced run puts its traced passes between two untraced ones, so
    // that warm-up drift does not pass for tracing overhead.
    def passes(label: String, count: Int): Seq[Runner.Pass] =
      (0 until count).map(i => runner.pass(s"$label$i", rng.shuffle(keys), clients))
    val count = math.max(3, math.round(seconds / nominalPassS(workload)).toInt)
    val timed = passes("timed", if (trace) 1 else count)
    val traced = tracer.fold(Seq.empty[Runner.Pass]) { t =>
      t.listen()
      val gc0 = Runner.gcSeconds()
      Runner.resetHeapPeaks()
      val ps = passes("traced", count)
      t.jvm = Map("gc_s" -> (Runner.gcSeconds() - gc0), "heap_peak_mb" -> Runner.heapPeakMb())
      t.stopListening()
      ps
    }
    val timedAfter = if (trace) passes("after", 1) else Nil
    val kernels = tracer.fold(Map.empty[String, Double])(_ => Kernels.time(spark, data))
    val singleClient =
      if (trace && clients > 1) Some(runner.pass("k1", rng.shuffle(keys), 1)) else None
    val peakRssMb = Runner.vmHwmMb()
    spark.stop()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "clients" -> clients,
      "cpus" -> cpus, "keys" -> keys,
      "setup" -> Map("s" -> setupS, "jvm_s" -> jvmUpS, "session_s" -> sessionS,
        "warm_s" -> warm.wallS),
      "warm" -> warm.json, "timed" -> (timed ++ timedAfter).map(_.json), "traced" -> traced.map(_.json),
      "single_client" -> singleClient.map(_.json).orNull,
      "kernels" -> kernels, "peak_rss_mb" -> peakRssMb,
      "trace" -> tracer.map(_.json).orNull)
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result))
  }
}

/** Runs key-runs and passes. Every key-run carries one Spark job tag,
  * `perfbench-<n>`, so the tracer can hang each job and streaming query
  * under the key-run that caused it. */
final class Runner(spark: SparkSession, data: String) {
  import Runner._
  private val sc = spark.sparkContext
  private val nextRun = new java.util.concurrent.atomic.AtomicLong()

  /** Runs `action` on `key`'s DataFrame, tagged and timed. As in
    * graft.Bench, a serial key-run first clears cross-query state and
    * collects garbage (concurrent passes do that once per pass), and
    * transient blocks are released after; that upkeep is outside the
    * key-run's time and is subtracted from a serial pass's wall and CPU
    * time. */
  def keyRun(key: String, serial: Boolean)(action: DataFrame => Unit): KeyRun = {
    val (h0, hc0) = (System.nanoTime(), cpuNs())
    if (serial) { graft.operators.Dedup.clearLabelCache(); System.gc() }
    val tag = s"perfbench-${nextRun.incrementAndGet()}"
    sc.addJobTag(tag)
    val (s0, c0) = (System.nanoTime(), cpuNs())
    var built = 0L
    val error =
      try {
        val df = SparkEntry.queries(key)(spark, data)
        built = System.nanoTime()
        action(df)
        None
      } catch {
        case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}".take(500))
      } finally sc.removeJobTag(tag)
    val (end, c1) = (System.nanoTime(), cpuNs())
    graft.operators.Dedup.releaseTransientBlocks()
    KeyRun(key, tag, s0, if (built == 0L) end else built, end, error,
      upkeep = (s0 - h0) + (System.nanoTime() - end), upkeepCpu = (c0 - hc0) + (cpuNs() - c1))
  }

  /** One pass over `keys` on `clients` closed-loop client threads: each
    * client takes the next key as soon as its previous one completes; a
    * single client runs on the calling thread. Each key's result goes to
    * the noop sink, or, with `writeTo`, to parquet under
    * `writeTo/<key>`. */
  def pass(label: String, keys: Seq[String], clients: Int,
      writeTo: Option[String] = None): Pass = {
    def one(k: String): KeyRun = keyRun(k, serial = clients <= 1) { df =>
      writeTo match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$k")
      }
    }
    if (clients > 1) { graft.operators.Dedup.clearLabelCache(); System.gc() }
    val (start, cpu0) = (System.nanoTime(), cpuNs())
    val runs =
      if (clients <= 1) keys.map(one)
      else {
        val queue = new ConcurrentLinkedQueue[String](keys.asJava)
        val done = new ConcurrentLinkedQueue[KeyRun]()
        val pool = Executors.newFixedThreadPool(clients)
        try {
          val tasks = (1 to clients).map(_ => pool.submit(new Runnable {
            def run(): Unit = {
              var k = queue.poll()
              while (k != null) { done.add(one(k)); k = queue.poll() }
            }
          }))
          tasks.foreach(_.get())
        } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
        done.asScala.toSeq
      }
    Pass(label, clients, start, System.nanoTime(), cpuNs() - cpu0, runs)
  }
}

object Runner {
  /** Epoch milliseconds of a System.nanoTime reading, sub-ms precise. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  final case class KeyRun(key: String, tag: String, start: Long, built: Long, end: Long,
      error: Option[String], upkeep: Long, upkeepCpu: Long) {
    def json: Map[String, Any] = Map("key" -> key, "tag" -> tag,
      "start_ms" -> epochMs(start), "built_ms" -> epochMs(built), "end_ms" -> epochMs(end),
      "s" -> (end - start) / 1e9, "build_s" -> (built - start) / 1e9,
      "error" -> error.orNull)
  }

  /** `cpu` is the process CPU time (every JVM thread) over the pass. */
  final case class Pass(label: String, clients: Int, start: Long, end: Long, cpu: Long,
      runs: Seq[KeyRun]) {
    private def serial = clients == 1
    def wallS: Double = (end - start - (if (serial) runs.map(_.upkeep).sum else 0L)) / 1e9
    def cpuS: Double = (cpu - (if (serial) runs.map(_.upkeepCpu).sum else 0L)) / 1e9
    def json: Map[String, Any] = Map("label" -> label, "clients" -> clients,
      "start_ms" -> epochMs(start), "end_ms" -> epochMs(end), "wall_s" -> wallS,
      "cpu_s" -> cpuS, "runs" -> runs.map(_.json))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
