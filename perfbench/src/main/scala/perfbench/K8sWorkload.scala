package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** k8s-api: `GET /api` against `KsqlServer` over a generated snapshot,
  * closed loop, `--cores` clients in this process.
  *
  * Set-up (untimed): `K8sSnapshot.load` on three fresh sessions (the median
  * counts), server start, then one cycle through the mix from every client
  * at once.
  * Timed: each client sends its next request when the previous one
  * returns, walking a fresh seeded permutation of the mix per cycle, until
  * `--seconds` have elapsed. Responses are kept (one copy per distinct
  * body) for `run.py` to check.
  *
  * A traced run first calls the layers the server calls
  * (`KsqlDialect.rewrite`, `KsqlDialect.sql`, `Render.process`,
  * `Render.toJson`) for every mix query, each call followed by the same
  * request over HTTP from one client, then makes a `noop` scan of `pods`,
  * then splits `--seconds` over four 4-client windows: untraced, traced,
  * traced, untraced. A fifth, untraced window of the same length uses
  * keep-alive clients. Every other window sends `Connection: close`: with
  * keep-alive the serial server can starve one connection for seconds
  * while it serves the others, and that stall would swamp the latency
  * percentiles. The keep-alive window measures that stall on its own.
  */
object K8sWorkload {
  private val LoadReps = 3
  private val WarmCycles = 1
  private val DirectReps = 4

  final case class Req(phase: String, client: Int, cycle: Int, q: Int,
      startNs: Long, latNs: Long, status: Int, body: String)

  def run(spark0: SparkSession, a: Main.Args, tracer: Tracer,
      counters: Option[SparkCounters]): Seq[(String, String)] = {
    val sc = spark0.sparkContext
    var spark = spark0
    val loadS = (1 to LoadReps).map { rep =>
      spark = spark0.newSession()
      val t0 = System.nanoTime()
      tracer.span("sources.load", s"setup$rep") {
        graft.sources.K8sSnapshot.load(spark, a.snapshot)
      }
      Main.seconds(t0)
    }
    HeapWatch.settle()
    val server = new graft.server.KsqlServer(spark, 0)
    val port = server.start()
    val bodies = new ConcurrentHashMap[String, Array[Byte]]()
    val reqs = ArrayBuffer.empty[Req]
    val direct = ArrayBuffer.empty[(Int, Double, Long)]

    def get(q: Int, keepAlive: Boolean = false): (Int, Array[Byte]) = {
      val url = new URI(s"http://127.0.0.1:$port/api?query=" +
        URLEncoder.encode(a.mix(q), UTF_8)).toURL
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(10000)
      c.setReadTimeout(120000)
      if (!keepAlive) c.setRequestProperty("Connection", "close")
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) Array.emptyByteArray
        else try in.readAllBytes() finally in.close()
      (code, body)
    }

    def keep(q: Int, body: Array[Byte]): String = {
      val h = MessageDigest.getInstance("SHA-256").digest(body)
        .take(8).map(b => f"$b%02x").mkString
      bodies.putIfAbsent(s"q${q}_$h", body)
      h
    }

    /** Closed loop: `clients` threads until `windowS` has elapsed, or
      * for exactly `cycles` cycles each when `cycles` > 0. */
    def window(phase: String, clients: Int, windowS: Double,
        tr: Tracer, cycles: Int = 0, keepAlive: Boolean = false): Seq[Req] = {
      val out = ArrayBuffer.empty[Req]
      val t0 = System.nanoTime()
      val deadline = t0 + (windowS * 1e9).toLong
      def more(cycle: Int) =
        if (cycles > 0) cycle < cycles else System.nanoTime() < deadline
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          val rnd = new Random(a.seed * 7919L + c)
          var cycle = 0
          while (more(cycle)) {
            rnd.shuffle(a.mix.indices.toList).foreach { q =>
              if (cycles > 0 || System.nanoTime() < deadline) {
                val s = System.nanoTime()
                val (code, body) =
                  try tr.span("http.request", s"$phase:$c:$cycle:$q")(
                    get(q, keepAlive))
                  catch { case e: Exception =>
                    (-1, e.toString.getBytes(UTF_8)) }
                val lat = System.nanoTime() - s
                val r = Req(phase, c, cycle, q, s - t0, lat, code, keep(q, body))
                out.synchronized(out += r)
              }
            }
            cycle += 1
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out.toSeq
    }

    val untraced = new Tracer(false)
    val warmS =
      try {
        val w0 = System.nanoTime()
        reqs ++= window("warm", a.cores, 0, untraced, cycles = WarmCycles)
        val warmS = Main.seconds(w0)
        HeapWatch.settle()
        if (!a.trace) {
          reqs ++= window("c4", a.cores, a.seconds, untraced)
          HeapWatch.settle()
        }
        else {
          // Each direct call is followed by the same query over HTTP from
          // one client, so the pair is measured at the same warm-up state.
          for (rep <- 1 to DirectReps; q <- a.mix.indices) {
            val req = s"direct$rep:q$q"
            val d0 = System.nanoTime()
            val bytes = tracer.span("k8s.query", req) {
              tracer.span("dialect.rewrite", req)(
                graft.dialect.KsqlDialect.rewrite(a.mix(q)))
              val df = tracer.span("dialect.analyze", req)(
                graft.dialect.KsqlDialect.sql(spark, a.mix(q)))
              val r = tracer.span("sinks.collect", req) {
                SparkCounters.tagged(sc, req, "exec")(
                  graft.sinks.Render.process(df))
              }
              tracer.span("sinks.json", req)(graft.sinks.Render.toJson(r))
                .getBytes(UTF_8).length.toLong
            }
            direct += ((q, Main.seconds(d0), bytes))
            val h0 = System.nanoTime()
            val (code, body) =
              tracer.span("http.request", s"c1:0:$rep:$q")(get(q))
            reqs += Req("c1", 0, rep, q, 0L, System.nanoTime() - h0, code,
              keep(q, body))
          }
          for (rep <- 1 to DirectReps) {
            val req = s"scan$rep"
            tracer.span("sources.scan", req) {
              SparkCounters.tagged(sc, req, "exec")(
                spark.table("pods").write.format("noop").mode("overwrite")
                  .save())
            }
          }
          // untraced-traced-traced-untraced, so warm-up drift cancels
          // out of the overhead
          for (traced <- Seq(false, true, true, false)) {
            if (!traced) counters.foreach { c =>
              c.drain(sc) // the traced calls' last events are queued
              sc.removeSparkListener(c)
            }
            reqs ++= window(if (traced) "c4t" else "c4", a.cores,
              a.seconds / 4, if (traced) tracer else untraced)
            HeapWatch.settle()
            if (!traced) counters.foreach(sc.addSparkListener)
          }
          counters.foreach { c => c.drain(sc); sc.removeSparkListener(c) }
          reqs ++= window("ka", a.cores, a.seconds / 4, untraced,
            keepAlive = true)
          HeapWatch.settle()
        }
        warmS
      } finally server.stop()

    val bodyDir = new File(a.work, "bodies")
    bodyDir.mkdirs()
    bodies.forEach((k, v) => Files.write(new File(bodyDir, k).toPath, v))
    Seq(
      "load_s" -> Json.arr(loadS.map(Json.num)),
      "warm_s" -> Json.num(warmS),
      "requests" -> Json.arr(reqs.map { r =>
        Json.obj("phase" -> Json.str(r.phase), "client" -> r.client.toString,
          "cycle" -> r.cycle.toString, "q" -> r.q.toString,
          "start_ns" -> r.startNs.toString, "lat_ns" -> r.latNs.toString,
          "status" -> r.status.toString, "body" -> Json.str(r.body))
      }),
      "direct" -> Json.arr(direct.map { case (q, s, b) =>
        Json.obj("q" -> q.toString, "s" -> Json.num(s),
          "response_bytes" -> b.toString)
      }))
  }
}
