package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.serving.{HttpApi, Serving}
import graft.streaming.Topologies

/** `lookup`: the reference's two-instance interactive-query topology
  * (app1/app2) in one server JVM. Each instance maintains its own share of
  * the purchases and word-count tables through `Serving.maintain`, its
  * streams filtered by `HttpApi.ownerOf`: purchase records reach only the
  * instance owning their key (as each instance would consume only its own
  * topic partitions), word counts keep the owned words. Set-up ingests
  * the first `preload` sf0.1 purchase records and `preload_lines` corpus
  * lines. A separate load-generator process then reads through HTTP
  * (point lookups, some redirected to the other instance; Zipf-skewed
  * scatter-gather prefix scans; misses) while a trickle of stream writes
  * keeps upserting.
  *
  * The preloaded state must equal the generator's own fold of what it
  * appended; answers for keys the trickle never touches must equal the
  * in-process `ServingTable` answer; touched keys must lie between the
  * value before the read phase and the final one.
  */
object Lookup {

  /** Purchase records and document lines, consumed in order. */
  final class Feed(c: Array[Int], p: Array[Int], q: Array[Int], text: IndexedSeq[String]) {
    var nextP = 0
    var nextL = 0
    private def json(i: Int) = s"""{"customerId":${c(i)},"productId":${p(i)},"quantity":${q(i)}}"""
    /** The next `n` records with their composite keys. */
    def keyed(n: Int): Seq[(String, String)] = {
      val out = (nextP until nextP + n).map(i => (key(i), json(i)))
      nextP += n; out
    }
    def lines(n: Int): Seq[String] = {
      val out = (nextL until nextL + n).map(lineAt)
      nextL += n; out
    }
    def records: Int = c.length
    def lineCount: Int = text.size
    def lineAt(i: Int): String = text(i % text.size)
    def key(i: Int): String = s"${c(i)}-${p(i)}"
    def qty(i: Int): Int = q(i)
  }

  /** The first `limit` records of a file of little-endian int32
    * (customer, product, quantity) triples, and the lines of a text file.
    */
  def loadFeed(dir: String, records: String = "purchases.bin",
      lines: String = "lines.txt", limit: Int = Int.MaxValue): Feed = {
    val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, records))).order(java.nio.ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val n = math.min(limit, buf.remaining() / 3)
    val all = new Array[Int](3 * n)
    buf.get(all)
    new Feed(Array.tabulate(n)(i => all(3 * i)), Array.tabulate(n)(i => all(3 * i + 1)),
      Array.tabulate(n)(i => all(3 * i + 2)), Util.readLines(s"$dir/$lines").toIndexedSeq)
  }

  /** Served state (`served(table)`: every entry of that table) vs the
    * generator's own fold of feed records [0, nP) and lines [0, nL).
    */
  def verify(served: String => Map[String, Map[String, Any]], feed: Feed,
      nP: Int, nL: Int): Seq[String] = {
    val pur = mutable.HashMap.empty[String, (Long, Double)]
    for (i <- 0 until nP) {
      val k = feed.key(i)
      val (c, s) = pur.getOrElse(k, (0L, 0.0))
      pur(k) = (c + 1, s + feed.qty(i))
    }
    val words = mutable.HashMap.empty[String, Long]
    for (i <- 0 until nL; w <- feed.lineAt(i).toLowerCase.split("\\W+") if w.nonEmpty)
      words(w) = words.getOrElse(w, 0L) + 1
    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
    val gotP = served("purchases")
    val gotW = served("wordcount")
    val errs = mutable.ArrayBuffer.empty[String]
    if (gotP.size != pur.size) errs += s"purchases: ${gotP.size} keys served, ${pur.size} expected"
    if (gotW.size != words.size) errs += s"wordcount: ${gotW.size} keys served, ${words.size} expected"
    pur.iterator.filter { case (k, (c, s)) =>
      gotP.get(k).forall(r => num(r("count")) != c || num(r("total")) != s) }
      .take(5).foreach { case (k, v) => errs += s"purchases[$k] = ${gotP.get(k)}, expected $v" }
    words.iterator.filter { case (w, c) => gotW.get(w).forall(r => num(r("count")) != c) }
      .take(5).foreach { case (w, c) => errs += s"wordcount[$w] = ${gotW.get(w)}, expected $c" }
    errs.toSeq
  }

  /** One sharded instance: its session, streams, tables and HTTP API. */
  final class Instance(spark: SparkSession, idx: Int, ckpt: String, progress: ProgressLog) {
    implicit val sqlc: SQLContext = spark.sqlContext
    import spark.implicits._
    if (idx > 0) spark.streams.addListener(progress)  // session 0's is attached already
    val purchases = MemoryStream[String]
    val lines = MemoryStream[String]
    val serving = new Serving
    private val owner = udf((k: String) => HttpApi.ownerOf(k, 2))
    val queries: Seq[StreamingQuery] = Seq(
      serving.maintain(Topologies.purchases(Topologies.parsePurchases(purchases.toDF())),
        "purchases", "k", s"$ckpt/purchases"),
      serving.maintain(Topologies.wordCount(lines.toDF()).where(owner(col("word")) === idx),
        "wordcount", "word", s"$ckpt/wordcount"))
    val api = new HttpApi(serving)
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    /** Append the owned records of (key, record) pairs, and every line. */
    def append(ps: Seq[(String, String)], ls: Seq[String], parts: Int): Unit = {
      Util.chunks(ps.collect { case (k, r) if HttpApi.ownerOf(k, 2) == idx => r }, parts)
        .foreach(purchases.addData(_))
      Util.chunks(ls, parts).foreach(lines.addData(_))
    }
  }

  private def num(v: Any) = BigDecimal(v.toString).bigDecimal.stripTrailingZeros()

  /** The in-process answer for a request path: (status, canonical body). */
  def answer(inst: IndexedSeq[Instance], path: String): (Int, Any) =
    if (path.startsWith("/wordcount/")) {
      val w = path.stripPrefix("/wordcount/")
      inst(HttpApi.ownerOf(w, 2)).serving.table("wordcount").flatMap(_.get(w)) match {
        case Some(r) => (200, Map(w -> num(r("count"))))
        case None => (404, null)
      }
    } else {
      val c = path.stripPrefix("/purchases/")
      val rows = inst.flatMap(_.serving.table("purchases").toSeq.flatMap(_.prefix(c + "-")))
      if (rows.isEmpty) (404, null)
      else (200, rows.map { case (k, r) =>
        k -> Map("count" -> num(r("count")), "total" -> num(r("total"))) }.toMap)
    }

  private def render(v: Any): String = Json.render(v match {
    case m: Map[_, _] => m.map {
      case (k, x: Map[_, _]) => k -> x.map { case (a, b) => a -> BigDecimal(b.toString) }
      case (k, x) => k -> BigDecimal(x.toString)
    }
    case other => other
  })

  /** Is `got` (a canonical body) between `lo` and `hi`, key by key? */
  def between(got: Any, lo: Any, hi: Any): Boolean = (got, lo, hi) match {
    case (g: java.math.BigDecimal, l, h) =>
      (l == null || g.compareTo(l.asInstanceOf[java.math.BigDecimal]) >= 0) &&
        g.compareTo(h.asInstanceOf[java.math.BigDecimal]) <= 0
    case (g: Map[_, _], l, h: Map[_, _]) =>
      val lm = Option(l).map(_.asInstanceOf[Map[Any, Any]]).getOrElse(Map.empty[Any, Any])
      val hm = h.asInstanceOf[Map[Any, Any]]
      lm.keySet.subsetOf(g.keySet.asInstanceOf[Set[Any]]) &&
        g.keySet.asInstanceOf[Set[Any]].subsetOf(hm.keySet) &&
        g.forall { case (k, v) => between(v, lm.getOrElse(k, null), hm(k)) }
    case _ => false
  }

  def run(spark: SparkSession, ctx: Ctx, progress: ProgressLog): Map[String, Any] = {
    val feed = loadFeed(ctx.path("inputs"), limit = ctx.int("preload"))
    val dir = ctx.path("lookup")
    val trickle = loadFeed(dir, "trickle.bin", "trickle_lines.txt")
    Util.log("lookup: inputs read")
    val ckpt = ctx.work.resolve("ckpt").toString

    // set-up: both instances ingest the preload through their queries
    var inst: IndexedSeq[Instance] = null
    val setup = (1 to ctx.int("setup_reps")).map { rep =>
      if (inst != null) inst.foreach(_.queries.foreach(_.stop()))
      feed.nextP = 0; feed.nextL = 0
      val t0 = Clock.ms()
      inst = IndexedSeq(spark, spark.newSession()).zipWithIndex.map { case (s, i) =>
        new Instance(s, i, s"$ckpt/$rep/$i", progress) }
      val ps = feed.keyed(ctx.int("preload")); val ls = feed.lines(ctx.int("preload_lines"))
      inst.foreach(_.append(ps, ls, ctx.cpus))
      inst.foreach(_.drain())
      (Clock.ms() - t0) / 1000
    }
    Util.log(s"lookup: set up $setup")
    // the preloaded state, both instances together, is the generator's fold
    val errs = mutable.ArrayBuffer.empty[String]
    errs ++= verify(name => inst.flatMap(_.serving.table(name).get.all).toMap,
      feed, feed.nextP, feed.nextL)
    inst.foreach(_.api.start())
    val peers = inst.map(_.api.address)
    inst.zipWithIndex.foreach { case (i, k) => i.api.shard(k, peers) }

    // the request mix and its in-process answers before any trickle write
    val reqs = Util.readLines(s"$dir/requests.tsv").map(_.split("\t")).map(a => (a(0).toInt, a(1)))
    val paths = reqs.map(_._2).distinct
    val trickleWords = (0 until trickle.lineCount).flatMap(i => trickle.lineAt(i).split(" ")).toSet
    val trickleCusts = (0 until trickle.records).map(i => trickle.key(i).takeWhile(_ != '-')).toSet
    def touched(p: String) =
      trickleWords.contains(p.stripPrefix("/wordcount/")) ||
        trickleCusts.contains(p.stripPrefix("/purchases/"))
    val before = paths.map(p => p -> answer(inst, p)).toMap
    Util.log(s"lookup: ${paths.size} in-process answers")

    // writes beside reads: a fixed trickle into both instances' streams
    @volatile var writing = true
    val writer = new Thread(() => {
      val every = ctx.num("trickle_ms")
      val t0 = Clock.ms()
      var k = 1
      while (writing) {
        val due = t0 + k * every
        val now = Clock.ms()
        if (now < due) Thread.sleep((due - now).ceil.toLong)
        if (trickle.nextP + ctx.int("trickle_records") > trickle.records) {
          trickle.nextP = 0; trickle.nextL = 0  // round the cycle again
        }
        if (writing) {
          val ps = trickle.keyed(ctx.int("trickle_records"))
          val ls = trickle.lines(ctx.int("trickle_lines"))
          inst.foreach(_.append(ps, ls, 1))
        }
        k += 1
      }
    }, "perfbench-trickle")

    val threads = ManagementFactory.getThreadMXBean
    threads.resetPeakThreadCount()
    writer.start()
    val readStart = Clock.ms()
    val gen = LoadGen.spawn(ctx.work, "lookup", Map(
      "bases" -> peers.map("http://" + _),
      "requests" -> reqs.map { case (i, p) => Seq(i, p) },
      "expect" -> before.map { case (p, (st, body)) =>
        p -> Map("status" -> st, "body" -> (if (body == null) null else render(body)),
          "touched" -> touched(p)) },
      "phases" -> Seq(
        Map("name" -> "warm", "kind" -> "closed", "count" -> ctx.int("warm_requests"),
          "clients" -> ctx.int("clients")),
        Map("name" -> "open", "kind" -> "open", "rate" -> ctx.num("open_rate"),
          "seconds" -> ctx.num("open_s"), "clients" -> ctx.int("clients")),
        Map("name" -> "closed", "kind" -> "closed", "count" -> ctx.int("closed_requests"),
          "clients" -> ctx.int("clients")))))
    val readEnd = Clock.ms()
    Util.log("lookup: load generator done")
    writing = false
    writer.join()
    val threadsPeak = threads.getPeakThreadCount
    inst.foreach(_.drain())

    // touched keys: between the answer before the reads and the final one
    gen.get("errors").elements().asScala.foreach(e => errs += e.asText())
    gen.get("touched").elements().asScala.foreach { e =>
      val p = e.get(0).asText()
      val got = Json.canonical(e.get(1).asText())
      val (_, hi) = answer(inst, p)
      if (!between(got, before(p)._2, hi))
        errs += s"$p: ${e.get(1).asText().take(200)} is outside [before, final]"
    }

    val phases = gen.get("phases").elements().asScala.map(p => p.get("name").asText() -> p).toMap
    val measured = Seq("open", "closed").map(phases)
    def samples(ph: String) = phases(ph).get("samples").elements().asScala
      .map(s => (s.get(0).asDouble(), s.get(1).asDouble(), reqs(s.get(2).asInt() % reqs.size)._2)).toSeq
    def count(k: String) = measured.map(_.get(k).asLong()).sum
    val closed = phases("closed")

    // traced run: each closed-loop request as an HTTP span (generator
    // clock moved onto this one) with the in-process replay of the same
    // key as its child, and the guarded peer calls a scatter-gather makes
    val layer = mutable.Map.empty[String, Any]
    if (ctx.spans.enabled) {
      def replay(p: String) = { val t0 = System.nanoTime(); answer(inst, p); (System.nanoTime() - t0) / 1e6 }
      val paths = samples("closed").map(_._3).distinct
      paths.foreach(replay)  // warm
      val inproc = paths.map(p => p -> Util.median((1 to 3).map(_ => replay(p)))).toMap
      val shift = gen.get("origin_epoch_ms").asDouble() - Clock.originEpochMs
      samples("closed").zipWithIndex.foreach { case ((start, lat, p), i) =>
        val id = ctx.spans.nextId()
        val t0 = start + shift
        ctx.spans.add(Span(id, 0L, s"req/$i", "serving.http", t0, t0 + lat, Map("path" -> p)))
        ctx.spans.add(Span(ctx.spans.nextId(), id, s"req/$i", "serving.inproc", t0, t0 + inproc(p),
          Map("path" -> p)))
      }
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      paths.filter(_.startsWith("/purchases/")).take(200).zipWithIndex.foreach { case (p, i) =>
        ctx.spans.timed("serving.fanout", s"fanout/$i", attrs = Map("path" -> p)) { _ =>
          client.send(HttpRequest.newBuilder(URI.create(s"http://${peers(i % 2)}$p"))
            .header("X-Provenance-Enabled", "true").GET().build(),
            HttpResponse.BodyHandlers.ofString())
        }
      }
      layer("read_start_ms") = readStart
      layer("read_end_ms") = readEnd
    }
    Util.log("lookup: checked")
    val live = Util.heapLiveMb()  // while both instances still serve
    inst.foreach(_.api.stop())
    inst.foreach(_.queries.foreach(_.stop()))

    Map("correct" -> errs.isEmpty, "errors" -> errs.toSeq.take(20),
      "failures" -> gen.get("failures").elements().asScala.map(_.asText()).toSeq,
      "setup_s" -> setup, "heap_live_mb" -> live,
      "attempted" -> count("sent"), "failed" -> count("failed"),
      "latency_ms" -> samples("open").map(_._2),
      "throughput_rps" -> closed.get("sent").asDouble() / (closed.get("wall_ms").asDouble() / 1000),
      "wall_s" -> measured.map(_.get("wall_ms").asDouble()).sum / 1000,
      "open_s" -> ctx.num("open_s"),
      "gen_late_ms" -> phases("open").get("late_ms").elements().asScala.map(_.asDouble()).toSeq,
      "redirects" -> count("redirects"), "non2xx" -> count("non2xx"),
      "threads_peak" -> threadsPeak, "sent" -> count("sent"), "ok" -> count("ok")) ++ layer
  }
}
