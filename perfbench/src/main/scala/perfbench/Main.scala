package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the program's public
  * entry points and writes what it measured to `<work>/result.json` (plus
  * `<work>/spans.jsonl` when traced). `run.py` launches it, checks outputs
  * and turns the raw samples into metrics.
  *
  * Arguments (all required unless noted):
  *   --workload relational|iterative|index-lifecycle|k8s-api
  *   --seed N --seconds S --trace 0|1 --work DIR
  *   --data DIR          parquet tables (batch workloads)
  *   --queries a,b,...   the fixed query list (batch workloads)
  *   --snapshot DIR      pods/nodes/services.json (k8s-api)
  *   --mix FILE          one SQL query per line (k8s-api)
  *   --cores N           local[N] and client count (default 4)
  *   --passes N          timed passes (batch workloads, default 1)
  *   --check-only 1      batch: stop after the check pass and also write
  *                       `<work>/out/oracle_sql.json` for those queries
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, data: String, queries: Seq[String],
      snapshot: String, mix: Seq[String], cores: Int, passes: Int,
      checkOnly: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, "")
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", new File(get("work")), get("data"),
      get("queries").split(",").toSeq.filter(_.nonEmpty), get("snapshot"),
      if (get("mix").isEmpty) Nil
      else Files.readAllLines(Paths.get(get("mix")), UTF_8)
        .toArray(Array.empty[String]).toSeq.filter(_.trim.nonEmpty),
      m.get("cores").map(_.toInt).getOrElse(4),
      m.get("passes").map(_.toInt).getOrElse(1),
      m.get("check-only").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val tracer = new Tracer(a.trace)
    val warehouse = new File(a.work, "warehouse")
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toURI.toString)
      .config("spark.local.dir", new File(a.work, "spark-local").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val counters = if (a.trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)

    if (a.checkOnly) {
      val oracle = graft.SparkEntry.oracleSql.filter(kv => a.queries.contains(kv._1))
      new File(a.work, "out").mkdirs()
      Files.write(new File(a.work, "out/oracle_sql.json").toPath,
        Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)
          .getBytes(UTF_8))
    }
    val body: Seq[(String, String)] =
      try {
        if (a.workload == "k8s-api") K8sWorkload.run(spark, a, tracer, counters)
        else BatchWorkload.run(spark, a, tracer, counters, warehouse)
      } finally {
        counters.foreach(_.drain(spark.sparkContext))
      }
    val out = Seq(
      "workload" -> Json.str(a.workload),
      "session_s" -> Json.num(sessionS),
      "vm_hwm_mb" -> Json.num(peakRssMb()),
      "heap_committed_mb" -> Json.num(HeapWatch.committedMb),
      "heap_retained_mb" -> Json.num(HeapWatch.retainedMb),
      "spark" -> counters.map(_.toJson).getOrElse("{}")) ++ body
    spark.stop()
    if (a.trace)
      Files.write(new File(a.work, "spans.jsonl").toPath,
        tracer.jsonLines.map(_ + "\n").mkString.getBytes(UTF_8))
    Files.write(new File(a.work, "result.json").toPath,
      Json.obj(out: _*).getBytes(UTF_8))
  }

  /** VmHWM: the peak resident set of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (du bytes, file count) of a directory tree. */
  def treeSize(d: File): (Long, Long) =
    if (!d.exists()) (0L, 0L)
    else if (d.isFile) (d.length(), 1L)
    else Option(d.listFiles()).getOrElse(Array.empty[File]).map(treeSize)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

/** The heap the program retains: the largest heap in use right after a
  * full collection that the workloads force at fixed quiet points, outside
  * every timed region (after set-up, after the warm-up and after each timed
  * pass or window). Unlike occupancy after ordinary collections, it holds
  * no garbage, so it does not depend on when the collector chose to run.
  */
object HeapWatch {
  import java.lang.management.ManagementFactory

  private val peak = new java.util.concurrent.atomic.AtomicLong

  def settle(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, math.max)
  }

  def retainedMb: Double = peak.get / 1048576.0

  def committedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
}
