package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** The HTTP load generator, a process of its own:
  * `perfbench.LoadGen <config.json> <out.json>`.
  *
  * The config lists the requests (a base URL index and a path, cycled in
  * order), the expected answer per path — status, canonical body, and
  * whether concurrent writes may change it — and the phases:
  *
  *   - `open`: requests fall due at a fixed rate for a fixed time; each is
  *     timed from when it was due, so a stall also charges the requests
  *     queued behind it. Once `clients` requests are in flight the rest
  *     wait in the generator's queue.
  *   - `closed`: `clients` loops, each sending its next request when the
  *     previous one answers, until `count` requests are done.
  *
  * Requests go through `java.net.HttpURLConnection`, which reads on the
  * sending thread and keeps connections alive between requests; redirects
  * are followed here, one request per hop. The JDK 17
  * `java.net.http.HttpClient` is not used: when it follows a redirect, the
  * first hop's request timeout stays armed and, when it fires, closes the
  * pooled connection a later request is reading its body from ("fixed
  * content-length: N, bytes received: 0"); and its asynchronous pipeline
  * passes every response through several threads, whose wake-ups on a
  * machine kept busy by the server set most of an open-loop request's
  * latency.
  *
  * A request that gets no answer (refused, cut off, timed out) counts as
  * failed; an answer that differs from the expected one, status or body,
  * is an error that makes the run incorrect. Bodies of paths marked
  * `touched` are kept for the server's range check.
  */
object LoadGen {
  final case class Expect(status: Int, body: Any, touched: Boolean)

  private val Redirects = Set(301, 302, 303, 307, 308)

  /** One GET: (status, body, resolved Location). The body is read to its
    * end, error bodies too, so the connection can be reused. */
  private def get(uri: URI): (Int, String, Option[URI]) = {
    val c = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setInstanceFollowRedirects(false)
    c.setConnectTimeout(5000)
    c.setReadTimeout(10000)
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (status, body, Option(c.getHeaderField("Location")).map(uri.resolve))
  }

  final class Phase(val name: String) {
    val samples = new ConcurrentLinkedQueue[Array[Double]]()  // due/start ms, latency ms, index
    val late = new ConcurrentLinkedQueue[Double]()
    val sent = new AtomicLong(); val ok = new AtomicLong(); val failed = new AtomicLong()
    val redirects = new AtomicLong(); val non2xx = new AtomicLong()
    @volatile var wallMs = 0.0
  }

  def main(args: Array[String]): Unit = {
    val cfg = Json.read(Paths.get(args(0)))
    val bases = cfg.get("bases").elements().asScala.map(_.asText()).toIndexedSeq
    val reqs = cfg.get("requests").elements().asScala
      .map(r => (r.get(0).asInt(), r.get(1).asText())).toIndexedSeq
    val expect = cfg.get("expect").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("status").asInt(),
        if (v.get("body").isNull) null else Json.canonical(v.get("body").asText()),
        v.get("touched").asBoolean())
    }.toMap
    val touchedBodies = new ConcurrentLinkedQueue[(String, String)]()
    val errors = new ConcurrentLinkedQueue[String]()     // wrong answers
    val failures = new ConcurrentLinkedQueue[String]()   // no answer
    val next = new AtomicInteger()

    /** Send request `i`; returns true when the answer is the expected one. */
    def send(i: Int, ph: Phase): Boolean = {
      val (base, path) = reqs(i % reqs.size)
      ph.sent.incrementAndGet()
      val good = try {
        var res = get(URI.create(bases(base) + path))
        var hops = 0
        while (Redirects(res._1) && hops < 5) {
          res = get(res._3.get)
          hops += 1
        }
        val (status, body, _) = res
        if (hops > 0) ph.redirects.incrementAndGet()
        if (status / 100 != 2) ph.non2xx.incrementAndGet()
        expect.get(path) match {
          case None => errors.add(s"$path: no expected answer"); false
          case Some(e) if e.status != status =>
            errors.add(s"$path: status $status, expected ${e.status}"); false
          case Some(e) if e.touched => touchedBodies.add((path, body)); true
          case Some(e) if e.status == 200 && Json.canonical(body) != e.body =>
            errors.add(s"$path: body ${body.take(200)} differs from the in-process answer"); false
          case _ => true
        }
      } catch {
        case e: Exception =>
          val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(c => s"${c.getClass.getSimpleName} ${c.getMessage}").mkString(" <- ")
          failures.add(f"${ph.name} at ${Clock.ms()}%.0f ms, $path: $causes")
          false
      }
      (if (good) ph.ok else ph.failed).incrementAndGet()
      good
    }

    def record(ph: Phase, from: Double, i: Int): Unit =
      ph.samples.add(Array(from, Clock.ms() - from, i.toDouble))

    Util.log("load generator: config read")
    val phases = cfg.get("phases").elements().asScala.toSeq.map { p =>
      val ph = new Phase(p.get("name").asText())
      val clients = p.get("clients").asInt()
      val pool = Executors.newFixedThreadPool(clients)
      val t0 = Clock.ms()
      p.get("kind").asText() match {
        case "open" =>
          val rate = p.get("rate").asDouble() / 1000
          val n = (p.get("seconds").asDouble() * 1000 * rate).toInt
          for (k <- 0 until n) {
            val due = t0 + k / rate
            val now = Clock.ms()
            if (now < due) java.util.concurrent.locks.LockSupport.parkNanos(((due - now) * 1e6).toLong)
            ph.late.add(Clock.ms() - due)
            val i = next.getAndIncrement()
            pool.execute(() => { send(i, ph); record(ph, due, i) })
          }
        case "closed" =>
          val done = new AtomicInteger()
          val count = p.get("count").asInt()
          for (_ <- 0 until clients) pool.execute { () =>
            while (done.getAndIncrement() < count) {
              val i = next.getAndIncrement()
              val start = Clock.ms()
              send(i, ph)
              record(ph, start, i)
            }
          }
      }
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
      ph.wallMs = Clock.ms() - t0
      Util.log(s"load generator: ${ph.name} done")
      ph
    }

    Json.write(Paths.get(args(1)), Map("origin_epoch_ms" -> Clock.originEpochMs,
      "phases" -> phases.map { ph =>
        Map("name" -> ph.name, "wall_ms" -> ph.wallMs,
          "samples" -> ph.samples.asScala.toSeq.sortBy(_(0)).map(_.toSeq),
          "late_ms" -> ph.late.asScala.toSeq, "sent" -> ph.sent.get, "ok" -> ph.ok.get,
          "failed" -> ph.failed.get, "redirects" -> ph.redirects.get,
          "non2xx" -> ph.non2xx.get)
      },
      "touched" -> touchedBodies.asScala.toSeq.map { case (p, b) => Seq(p, b) },
      "errors" -> errors.asScala.toSeq.take(20),
      "failures" -> failures.asScala.toSeq.take(20)))
  }

  /** Run the generator as a child JVM and wait for it; returns its output. */
  def spawn(work: Path, name: String, config: Map[String, Any]): com.fasterxml.jackson.databind.JsonNode = {
    val cfg = work.resolve(s"$name-config.json")
    val out = work.resolve(s"$name-out.json")
    Json.write(cfg, config)
    // the generator needs only this harness, Jackson and the Scala library
    def home(c: Class[_]) = Paths.get(c.getProtectionDomain.getCodeSource.getLocation.toURI).toString
    val cp = Seq(LoadGen.getClass, classOf[com.fasterxml.jackson.databind.ObjectMapper],
        classOf[com.fasterxml.jackson.core.JsonParser],
        classOf[com.fasterxml.jackson.annotation.JsonProperty], classOf[scala.Option[_]])
      .map(home).distinct.mkString(java.io.File.pathSeparator)
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Xmx1g", "-cp", cp, "perfbench.LoadGen",
        cfg.toString, out.toString)
      .redirectErrorStream(true)
      .redirectOutput(work.resolve(s"$name.log").toFile).start()
    if (!p.waitFor(150, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException(s"load generator $name did not finish")
    }
    require(p.exitValue() == 0 && Files.exists(out), s"load generator $name failed")
    Json.read(out)
  }
}
