package paperbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. Reads the manifest the runner wrote
  * (workload, inputs, expectations), then: builds the session and runs
  * the workload's warm-up ops (the set-up cost), runs timed ops for
  * `seconds` (at least `min_ops`), and with `trace` on runs one traced
  * re-composition and, for the parse workloads, a `local[1]` baseline. Writes
  * raw timings, check verdicts and every span to `<work>/result.json`.
  *
  * Usage: Driver <manifest.json>
  */
object Driver {
  private val mapper = new ObjectMapper()

  def session(master: String, cores: Int, work: String): (SparkSession, WorkListener) = {
    val spark = SparkSession.builder()
      .master(master).appName("paperbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GuardMetrics.excludeEmptyRelationRule(spark)
    val l = new WorkListener
    spark.sparkContext.addSparkListener(l)
    (spark, l)
  }

  def workload(spark: SparkSession, m: com.fasterxml.jackson.databind.JsonNode,
               work: String): Workload = m.get("workload").asText match {
    case "parse_bulk" => new Parse(spark, m, work)
    case "season_e2e" => new SeasonE2e(spark, m, work)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** (total, steal) jiffies of the whole machine, from /proc/stat:
    * the share of CPU time the hypervisor took away during an op */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (v.sum, v(7))
    } finally f.close()
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Largest heap occupancy right after a collection since the last
    * `reset`: the data the program kept alive, which (unlike the
    * heap's size) does not follow the collector's sizing choices. */
  private object HeapPeak extends javax.management.NotificationListener {
    @volatile private var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[javax.management.NotificationEmitter]
        .addNotificationListener(this, null, null))
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
    /** after a full collection: the live heap is the floor */
    def reset(): Unit = synchronized {
      peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    def mb: Double = peak / 1048576.0
  }

  /** progress on stderr, so an overrun run shows where its time went */
  private def phase(name: String): Unit = System.err.println(
    f"paperbench: $name%s at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val m = mapper.readTree(new File(args(0)))
    val work = m.get("work").asText
    val cores = m.get("cores").asInt
    val seconds = m.get("seconds").asDouble
    val trace = m.get("trace").asInt == 1
    val out = mapper.createObjectNode()
    out.put("jvm_start_s", jvmStartS)
    var op = 0

    // set-up: session build + the workload's warm-up ops
    val t0 = System.nanoTime()
    val (spark, listener) = session(s"local[$cores]", cores, work)
    val w = workload(spark, m, work)
    out.putObject("setup").put("session_s", (System.nanoTime() - t0) / 1e9)
    val warm = out.putArray("warmup")
    for (_ <- 0 until m.get("warmup_ops").asInt) {
      val t1 = System.nanoTime()
      val h = w.run(op)
      val o = warm.addObject().put("op", op).put("op_s", (System.nanoTime() - t1) / 1e9)
      w.check(op, h).foreach(o.put("error", _))
      w.release()
      w.cleanup(op)
      op += 1
    }
    phase("warm-up done")

    // timed ops for `seconds`, at least `min_ops`
    val ops = out.putArray("ops")
    val measureStart = System.nanoTime()
    var n = 0
    while (n < m.get("min_ops").asInt ||
           (System.nanoTime() - measureStart) / 1e9 < seconds) {
      System.gc()
      listener.reset()
      HeapPeak.reset()
      val cpu0 = cpuJiffies()
      val proc0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val res = try Right(w.run(op)) catch { case e: Throwable => Left(e) }
      val opS = (System.nanoTime() - t0) / 1e9
      val procS = (os.getProcessCpuTime - proc0) / 1e9
      val cpu1 = cpuJiffies()
      val o = ops.addObject()
      o.put("op", op).put("op_s", opS).put("op_cpu_s", procS)
        .put("steal_share", (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1))
      res match {
        case Right(h) =>
          val bad = try w.check(op, h) catch { case e: Throwable => Some(e.toString) }
          bad.foreach(o.put("error", _))
        case Left(e) => o.put("error", e.toString)
      }
      o.put("out_bytes", w.outBytes(op))
      o.put("peak_heap_mb", HeapPeak.mb)
      org.apache.spark.PaperbenchBus.drain(spark.sparkContext)
      val all = listener.bySpan.values.asScala
      o.put("tasks", all.map(_.tasks).sum)
      o.put("sched_delay_s", all.map(_.schedDelayMs).sum / 1e3)
      w.release()
      w.cleanup(op)
      op += 1; n += 1
    }
    out.put("measure_s", (System.nanoTime() - measureStart) / 1e9)
    phase("timed ops done")
    // whole-run GC (set-up and timed ops)
    out.put("gc_s", gcMs() / 1e3)

    if (trace) {
      System.gc()
      listener.reset()
      val t = new Tracer(spark.sparkContext, Seq(w.outDir(op)), op)
      val bad = try w.traced(op, t) catch { case e: Throwable => Some(e.toString) }
      phase("traced op done")
      org.apache.spark.PaperbenchBus.drain(spark.sparkContext)
      val o = out.putArray("traced").addObject()
      o.put("op", op)
      bad.foreach(o.put("error", _))
      val spansOut = out.putArray("spans")
      t.spans.foreach { s =>
        val j = spansOut.addObject()
        j.put("id", s.id).put("name", s.name).put("parent", s.parent)
          .put("op", s.op).put("start_s", s.startNs / 1e9).put("end_s", s.endNs / 1e9)
        val c = j.putObject("counts")
        s.counts.foreach { case (k, v) => c.put(k, v) }
        Option(listener.bySpan.get(s.id)).foreach { wk =>
          c.put("jobs", wk.jobs).put("tasks", wk.tasks)
            .put("shuffle_bytes", wk.shuffleBytes).put("spill_bytes", wk.spillBytes)
            .put("bytes_written", wk.bytesWritten).put("gc_s", wk.gcMs / 1e3)
            .put("sched_delay_s", wk.schedDelayMs / 1e3)
        }
      }
      w.release()
      w.cleanup(op)
      op += 1
    }
    out.put("in_rows", w.inRows).put("in_bytes", w.inBytes)
    if (trace) baseline(spark, w, op, out, cores, work)
    Files.write(Paths.get(s"$work/result.json"), mapper.writeValueAsBytes(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Parse-only throughput (ParseStage.run writing parquet, no report)
    * over the workload's candump input, at local[N] and then at
    * local[1] in a fresh session of the same (warm) JVM, as lines/s per
    * core. */
  private def baseline(spark: SparkSession, w: Workload, op0: Int, out: ObjectNode,
                       cores: Int, work: String): Unit = {
    var op = op0
    def rate(s: SparkSession, n: Int): Double = {
      val t0 = System.nanoTime()
      w.parseOnly(s, w.outDir(op))
      val sec = (System.nanoTime() - t0) / 1e9
      w.cleanup(op); op += 1
      w.parseLines / sec / n
    }
    out.put("localN_lines_per_s_per_core", rate(spark, cores))
    spark.stop()
    out.put("local1_lines_per_s_per_core", rate(session("local[1]", 1, work)._1, 1))
  }
}
