package graft.serving

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The reference's two-instance interactive-query topology (Q3/Q4;
  * reference `app1.properties`/`app2.properties`, ports 8080/9090): keys
  * are sharded across instances, point lookups for foreign keys answer 302
  * redirects to the owner (`WordCountService.java:47-65`), and prefix
  * scans scatter-gather across all instances with the
  * `X-Provenance-Enabled` loop-guard header
  * (`PurchasesService.java:58-94`).
  */
class ShardedServingSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val client = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER).build()
  private val following = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.ALWAYS).build()

  private def get(c: HttpClient, addr: String, path: String,
      headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://$addr$path")).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    c.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("sharded instances: 302 point-lookup routing + scatter-gather prefix scan") {
    import spark.implicits._

    // two instances, each holding the keys that hash to its index
    val words = Seq("fox" -> 3L, "lazy" -> 1L, "jumps" -> 2L, "dog" -> 5L)
    val purchases = Seq(("7-100", 2L, 5.0), ("7-101", 1L, 1.0), ("7-102", 4L, 9.0))

    val servings = IndexedSeq(new Serving, new Serving)
    servings.foreach { s =>
      s.register(new ServingTable("wordcount", "word"))
      s.register(new ServingTable("purchases", "k"))
    }
    for (shardIdx <- 0 to 1) {
      val w = words.filter(kv => HttpApi.ownerOf(kv._1, 2) == shardIdx)
      if (w.nonEmpty) servings(shardIdx).table("wordcount").get
        .upsert(w.toDF("word", "count"))
      val p = purchases.filter(kv => HttpApi.ownerOf(kv._1, 2) == shardIdx)
      if (p.nonEmpty) servings(shardIdx).table("purchases").get
        .upsert(p.toDF("k", "count", "total"))
    }

    val apis = servings.map(new HttpApi(_).start())
    val peers = apis.map(_.address)
    apis.zipWithIndex.foreach { case (a, i) => a.shard(i, peers) }

    try {
      // the fixture must actually exercise both shards
      words.map(kv => HttpApi.ownerOf(kv._1, 2)).distinct should have size 2
      purchases.map(kv => HttpApi.ownerOf(kv._1, 2)).distinct should have size 2

      for ((word, count) <- words; instance <- 0 to 1) {
        val owner = HttpApi.ownerOf(word, 2)
        val direct = get(client, peers(instance), s"/wordcount/$word")
        if (owner == instance) {
          direct.statusCode() shouldBe 200
          direct.body() shouldBe s"""{"$word":$count}"""
        } else {
          // foreign key: redirect to the owner, following it serves the value
          direct.statusCode() shouldBe 302
          direct.headers().firstValue("Location").get() shouldBe
            s"http://${peers(owner)}/wordcount/$word"
          val followed = get(following, peers(instance), s"/wordcount/$word")
          followed.statusCode() shouldBe 200
          followed.body() shouldBe s"""{"$word":$count}"""
        }
      }

      // scatter-gather: either instance returns customer 7's FULL map
      val want = """{"7-100":{"count":2,"total":5},""" +
        """"7-101":{"count":1,"total":1},"7-102":{"count":4,"total":9}}"""
      for (instance <- 0 to 1) {
        val res = get(client, peers(instance), "/purchases/7")
        res.statusCode() shouldBe 200
        res.body() shouldBe want
      }

      // the loop guard limits a request to local state (no infinite fan-out)
      val guarded0 = get(client, peers(0), "/purchases/7",
        Map("X-Provenance-Enabled" -> "true"))
      val guarded1 = get(client, peers(1), "/purchases/7",
        Map("X-Provenance-Enabled" -> "true"))
      Seq(guarded0, guarded1).map(_.body()) should not contain want
      Seq(guarded0, guarded1).map(r =>
        ServingJson.parse(r.body()).asInstanceOf[Map[_, _]].size
      ).sum shouldBe purchases.size

      // metadata lists both instances (body keys sorted lexically)
      val sortedPeers = peers.sorted
      get(client, peers(0), "/metadata").body() shouldBe
        s"""{"${sortedPeers(0)}":["purchases","wordcount"],"${sortedPeers(1)}":["purchases","wordcount"]}"""
    } finally apis.foreach(_.stop())
  }

  test("ownerOf is stable and covers all shards") {
    val keys = (0 until 1000).map(i => s"key-$i")
    val owners = keys.map(HttpApi.ownerOf(_, 4))
    owners.distinct.sorted shouldBe Seq(0, 1, 2, 3)
    keys.map(HttpApi.ownerOf(_, 4)) shouldBe owners // deterministic
  }

  test("scatter-gather degrades to local state when a peer is down") {
    import spark.implicits._
    val serving = new Serving
    serving.register(new ServingTable("purchases", "k"))
    serving.table("purchases").get.upsert(Seq(("7-100", 2L, 5.0)).toDF("k", "count", "total"))

    val api = new HttpApi(serving).start()
    // peer 1 points at a closed port — requests to it must not break the merge
    api.shard(0, IndexedSeq(api.address, "127.0.0.1:1"))
    try {
      val res = get(client, api.address, "/purchases/7")
      res.statusCode() shouldBe 200
      res.body() shouldBe """{"7-100":{"count":2,"total":5}}"""
    } finally api.stop()
  }

  test("ServingJson round-trips generated flat and nested bodies") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // keys carry the characters a naive split or re-escape gets wrong
    val keyGen = Gen.nonEmptyListOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      1 -> Gen.oneOf(':', '"', '\\', ',', '{', '}', ' ', 'é', '漢', '\u0001')))
      .map(_.mkString)
    val entryGen = for {
      k <- keyGen
      v <- Gen.oneOf(
        Gen.chooseNum(0L, 999999L),
        Gen.chooseNum(0L, 99L).flatMap(c => Gen.chooseNum(0L, 999L).map(t =>
          Map("count" -> c, "total" -> t))))
    } yield (k, v)
    val prop = Prop.forAll(Gen.listOf(entryGen).map(_.toMap)) { entries =>
      val body = ServingJson.value(entries)
      ServingJson.parse(body) == entries && ServingJson.value(ServingJson.parse(body)) == body
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(result.passed, result.status.toString)
  }

  test("ServingJson emits every Double as JSON its own parser reads back") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // NaN and the infinities have no JSON form; whole doubles at or past
    // 2^63 must not saturate through toLong
    val doubleGen = Gen.oneOf(Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5e20, -1.5e20, -0.0, math.pow(2, 63),
      -math.pow(2, 63), Double.MaxValue, Double.MinPositiveValue),
      Gen.chooseNum(Double.MinValue, Double.MaxValue),
      Gen.chooseNum(-1e6, 1e6).map(math.rint))
    val prop = Prop.forAll(doubleGen) { d =>
      val body = ServingJson.value(Map("k" -> d))
      ServingJson.value(ServingJson.parse(body)) == body
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
    ServingJson.value(Map("k" -> 1.5e20)) shouldBe """{"k":1.5E20}"""
    ServingJson.value(Map("k" -> Double.NaN)) shouldBe """{"k":null}"""
  }
}
