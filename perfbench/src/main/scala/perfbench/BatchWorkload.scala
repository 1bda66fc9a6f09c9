package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** relational / iterative / index-lifecycle: a fixed list of
  * `SparkEntry.queries` functions, run pass after pass in a seeded order.
  *
  * Set-up (untimed): a fresh session registers every table through
  * `Tables.t` (three times; the median counts), then one check pass writes
  * each query's result as parquet for `run.py` to fingerprint, then one
  * untimed `noop` pass: pass times still fall by a third over the first
  * passes after the check pass while the JIT warms up. Timed: `--passes`
  * whole passes; each query builds its plan (the query function, which may
  * run driver loop jobs) and executes it into the `noop` sink; caches are
  * cleared after every query, as `graft.Bench` does.
  *
  * A traced run makes at least four passes, untraced-traced-traced-
  * untraced (repeated), so warm-up drift cancels out of the overhead it
  * reports; the Spark listener counts only traced passes, and is drained
  * before it is detached.
  */
object BatchWorkload {
  private val RegisterReps = 3

  def run(spark0: SparkSession, a: Main.Args, tracer: Tracer,
      counters: Option[SparkCounters], warehouse: File): Seq[(String, String)] = {
    val sc = spark0.sparkContext
    val fns = a.queries.map { q =>
      q -> graft.SparkEntry.queries.getOrElse(q,
        throw new IllegalArgumentException(s"unknown query $q"))
    }

    // Table registration on fresh sessions: the first Tables.t per
    // (session, table) lists the files and reads the footers.
    var spark = spark0
    val registerS = (1 to RegisterReps).map { rep =>
      spark = spark0.newSession()
      val t0 = System.nanoTime()
      graft.Tables.names.foreach { n =>
        tracer.span("tables.register", s"setup$rep:$n") {
          graft.Tables.t(spark, a.data, n)
        }
      }
      Main.seconds(t0)
    }

    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // Check pass: results to parquet for the fingerprint check.
    val outDir = new File(a.work, "out")
    val checkFailed = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    fns.foreach { case (q, fn) =>
      try fn(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(new File(outDir, q).getPath)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] check $q failed: $e")
        checkFailed += q
      }
      clearCaches()
    }
    val checkS = Main.seconds(t0)
    HeapWatch.settle()
    if (a.checkOnly) return Seq(
      "register_s" -> Json.arr(registerS.map(Json.num)),
      "check_s" -> Json.num(checkS),
      "check_failed" -> Json.arr(checkFailed.map(Json.str)))
    val t1 = System.nanoTime()
    fns.foreach { case (_, fn) =>
      try fn(spark, a.data).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // the check pass counts failures
      clearCaches()
    }
    val warmS = Main.seconds(t1)
    HeapWatch.settle()

    final case class Sample(q: String, pass: Int, traced: Boolean,
        buildS: Double, execS: Double, ok: Boolean)
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    val warehouseAfter = ArrayBuffer.empty[(Long, Long)]
    val nPasses = if (a.trace) 4 * ((a.passes + 3) / 4) else a.passes
    for (p <- 0 until nPasses) {
      val traced = a.trace && (p % 4 == 1 || p % 4 == 2)
      val order = new Random(a.seed * 1000003L + p).shuffle(fns)
      counters.filter(_ => !traced).foreach { c =>
        c.drain(sc) // the previous traced pass's last events are queued
        sc.removeSparkListener(c)
      }
      val pt = System.nanoTime()
      order.foreach { case (q, fn) =>
        val req = s"$q#$p"
        val tr = if (traced) tracer else Untraced
        val s0 = System.nanoTime()
        var built = s0
        val ok =
          try {
            tr.span("operators.query", req) {
              val df: DataFrame = tr.span("operators.build", req) {
                SparkCounters.tagged(sc, req, "build")(fn(spark, a.data))
              }
              built = System.nanoTime()
              tr.span("operators.exec", req) {
                SparkCounters.tagged(sc, req, "exec") {
                  df.write.format("noop").mode("overwrite").save()
                }
              }
            }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $req failed: $e")
            false
          }
        val end = System.nanoTime()
        if (!ok) built = end
        samples += Sample(q, p, traced, (built - s0) / 1e9, (end - built) / 1e9,
          ok)
        clearCaches()
      }
      passes += ((p, traced, Main.seconds(pt)))
      HeapWatch.settle()
      counters.filter(_ => !traced).foreach(sc.addSparkListener)
      if (traced) warehouseAfter += Main.treeSize(warehouse)
    }

    Seq(
      "register_s" -> Json.arr(registerS.map(Json.num)),
      "check_s" -> Json.num(checkS),
      "warm_s" -> Json.num(warmS),
      "check_failed" -> Json.arr(checkFailed.map(Json.str)),
      "passes" -> Json.arr(passes.map { case (i, tr, s) =>
        Json.obj("pass" -> i.toString, "traced" -> tr.toString,
          "s" -> Json.num(s))
      }),
      "samples" -> Json.arr(samples.map { s =>
        Json.obj("q" -> Json.str(s.q), "pass" -> s.pass.toString,
          "traced" -> s.traced.toString, "build_s" -> Json.num(s.buildS),
          "exec_s" -> Json.num(s.execS), "ok" -> s.ok.toString)
      }),
      "warehouse_after" -> Json.arr(warehouseAfter.map { case (b, n) =>
        Json.obj("bytes" -> b.toString, "files" -> n.toString)
      }))
  }

  private val Untraced = new Tracer(false)
}
