package graft.serving

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{array_join, col, concat, lit, split,
  transform, typedlit, when}

import graft.operators.LexicalIndex

/** HTTP query surface over the serving tables — the reference's
  * interactive-query layer re-expressed (SURVEY §2.4):
  *
  *   - `GET /wordcount/{key}`  → `{"{key}": count}` — point lookup
  *     (reference: `services/WordCountService.java:39-41,88-108`)
  *   - `GET /purchases/{key}`  → `{"{key}-{product}": {"count":n,"total":t}, ...}`
  *     — prefix range scan + merge (reference:
  *     `services/PurchasesService.java:58-94,100-123`)
  *   - `GET /metadata` and `/metadata/{store}` → `{"{host:port}": ["store", ...]}`
  *     (reference: `services/MetadataService.java:31-34,48-60`)
  *
  * Single-instance mode (the default) serves everything locally — the
  * driver sees all state. [[shard]] enables the reference's two-instance
  * topology (Q3/Q4, reference `app1/app2.properties`): each instance owns
  * the keys hashing to its index; a point lookup for a foreign key answers
  * **302 redirect** to the owner (`WordCountService.java:47-65`), and a
  * prefix scan **fans out** to every peer and merges, with the
  * `X-Provenance-Enabled` header as the loop guard
  * (`PurchasesService.java:58-94`, guard at `:68`).
  *
  * Built on the JDK's `com.sun.net.httpserver` — no dependencies. JSON is
  * emitted by a small serializer because the payloads are flat maps of
  * numbers/strings; pulling a JSON library for that would be the tail
  * wagging the dog.
  */
final class HttpApi(serving: Serving, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  // Multi-threaded dispatch is load-bearing, not a tuning choice: with the
  // JDK server's default single-threaded executor, two sharded instances
  // scatter-gathering at each other would each block in client.send while
  // the peer's only serving thread is itself blocked — a distributed
  // deadlock. A cached pool (plus the fan-out timeout in fetchEntries)
  // makes that impossible; the reference's Javalin layer is multi-threaded
  // for the same reason.
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(pool)

  /** (selfIndex, all instance addresses) when sharded; None = single node. */
  @volatile private var routing: Option[(Int, IndexedSeq[String])] = None

  private lazy val client = HttpClient.newHttpClient()

  /** Bound address, e.g. "127.0.0.1:43210" (port 0 = ephemeral, for tests). */
  def address: String =
    s"127.0.0.1:${server.getAddress.getPort}"

  /** Enable sharded routing: this instance is `peers(selfIndex)`. All
    * instances must be configured with the SAME peer list order so
    * [[HttpApi.ownerOf]] agrees everywhere (the reference gets the same
    * agreement from Kafka's partitioner via `queryMetadataForKey`,
    * `WordCountService.java:110-112`).
    */
  def shard(selfIndex: Int, peers: IndexedSeq[String]): this.type = {
    require(selfIndex >= 0 && selfIndex < peers.size, "selfIndex out of range")
    routing = Some((selfIndex, peers)); this
  }

  /** Retrieval configuration: None until [[retrieval]] is called. */
  @volatile private var retrievalConf: Option[HttpApi.Retrieval] = None

  /** Enable the `/search/...` routes over persisted, continuously
    * maintained indexes ([[graft.operators.LexicalIndex]] /
    * [[graft.operators.Similarity.writeIvfIndex]]) — the reference's
    * interactive-query posture (`services/PurchasesService.java:58-94`:
    * query continuously maintained state out-of-band) extended from the
    * point/prefix serving tables to the retrieval family. Each request
    * runs the library's own indexed query plan (partition-pruned scans),
    * so an index mid-[[graft.operators.LexicalIndex.maintain]] serves
    * its committed epochs.
    */
  def retrieval(conf: HttpApi.Retrieval): this.type = {
    retrievalConf = Some(conf); this
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Path parameter after `prefix`, percent-decoded (the reference's
    * Javalin layer decodes path params the same way).
    *
    * One percent-decode with PATH semantics: work from the RAW path
    * (`getPath` already percent-decodes, so decoding it again would
    * double-decode "%252B"-style inputs) and shield literal `+` from
    * URLDecoder's form-encoding space rule — in a path, `+` means
    * plus (the `/search/bool/+term` must-operator relies on it).
    */
  private def pathKey(ex: HttpExchange, prefix: String): Option[String] = {
    val p = ex.getRequestURI.getRawPath.stripPrefix(prefix)
    if (p.isEmpty || p.contains("/")) None
    else Some(java.net.URLDecoder.decode(p.replace("+", "%2B"), UTF_8))
  }

  // ---- routes ----

  /** `/wordcount/{key}`: singleton `{key: count}`, 404 when absent —
    * mirrors the reference's `Collections.singletonMap(key, store.get(key))`
    * (`WordCountService.java:101-107`). Sharded: a key owned elsewhere
    * answers 302 with the owner's URL (`WordCountService.java:55-64`).
    */
  server.createContext("/wordcount/", { ex =>
    pathKey(ex, "/wordcount/") match {
      case Some(key) =>
        routing match {
          case Some((self, peers)) if HttpApi.ownerOf(key, peers.size) != self =>
            val owner = peers(HttpApi.ownerOf(key, peers.size))
            // re-encode: `key` is percent-DECODED here, and a raw space/'%'/
            // '?'/non-ASCII char would make the redirect URL invalid
            ex.getResponseHeaders.set("Location",
              s"http://$owner/wordcount/${HttpApi.encodePath(key)}")
            respond(ex, 302, "{}")
          case _ =>
            val out = for {
              t <- serving.table("wordcount")
              row <- t.get(key)
            } yield Map(key -> row.getOrElse("count", null))
            out match {
              case Some(m) => respond(ex, 200, ServingJson.value(m))
              case None => respond(ex, 404, "{}")
            }
        }
      case None => respond(ex, 404, "{}")
    }
  })

  /** `/purchases/{customer}`: all `{customer}-{product}` entries via sorted
    * prefix scan — mirrors `store.range(key+"-00000", key+"-99999")`
    * (`PurchasesService.java:113-121`), generalized to a true prefix.
    * Sharded: composite keys spread across instances, so the query
    * scatter-gathers — local scan plus an HTTP fan-out to every peer with
    * `X-Provenance-Enabled: true`; a request carrying that header answers
    * from local state only, which is exactly the reference's recursion
    * guard (`PurchasesService.java:68,77-79`).
    */
  server.createContext("/purchases/", { ex =>
    pathKey(ex, "/purchases/") match {
      case Some(key) =>
        val local: Map[String, Any] = serving.table("purchases")
          .map(_.prefix(key + "-").toMap).getOrElse(Map.empty)
        val guarded = ex.getRequestHeaders.containsKey("X-Provenance-Enabled")
        val merged = routing match {
          case Some((self, peers)) if !guarded =>
            local ++ peers.indices.filter(_ != self).flatMap { i =>
              fetchEntries(s"http://${peers(i)}/purchases/${HttpApi.encodePath(key)}")
            }
          case _ => local
        }
        if (merged.isEmpty) respond(ex, 404, "{}")
        else respond(ex, 200, ServingJson.value(merged))
      case None => respond(ex, 404, "{}")
    }
  })

  /** GET a peer's guarded prefix scan; returns its (key, value) entries,
    * decoded with [[ServingJson]] (the codec the peer encoded them with;
    * the merged response re-emits them through the same codec).
    * Best-effort: an unreachable peer contributes nothing instead of
    * failing the whole merge (its keys reappear once it returns — same
    * availability posture as the reference's per-host okhttp loop). The
    * timeout bounds how long a fan-out can hold this instance's serving
    * thread (HttpTimeoutException is an IOException → treated as
    * unreachable).
    */
  private def fetchEntries(url: String): Seq[(String, Any)] =
    try {
      val res = client.send(
        HttpRequest.newBuilder(URI.create(url))
          .timeout(java.time.Duration.ofSeconds(5))
          .header("X-Provenance-Enabled", "true").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (res.statusCode() != 200) Nil
      else ServingJson.parse(res.body()) match {
        case m: Map[_, _] => m.toSeq.map { case (k, v) => k.toString -> v }
        case _ => Nil
      }
    } catch { case _: java.io.IOException | _: InterruptedException => Nil }

  /** `/metadata` and `/metadata/{store}`: host → store-names map —
    * mirrors `MetadataService.java:48-60`. Sharded: lists every instance
    * (the reference lists all hosts owning the store).
    */
  server.createContext("/metadata", { ex =>
    val hosts: Seq[String] = routing match {
      case Some((_, peers)) => peers
      case None => Seq(address)
    }
    pathKey(ex, "/metadata/") match {
      case Some(store) =>
        val names = serving.storeNames.filter(_ == store)
        if (names.isEmpty) respond(ex, 404, "{}")
        else respond(ex, 200, ServingJson.value(hosts.map(_ -> names).toMap))
      case None =>
        respond(ex, 200, ServingJson.value(hosts.map(_ -> serving.storeNames).toMap))
    }
  })

  // ---- retrieval routes (enabled by [[retrieval]]) ----

  /** `?k=` override, else the configured default. */
  private def kOf(ex: HttpExchange, conf: HttpApi.Retrieval): Int = {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    q.split("&").collectFirst { case s if s.startsWith("k=") =>
      s.stripPrefix("k=").toInt }.getOrElse(conf.k)
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .collectFirst { case s if s.startsWith(name + "=") =>
        java.net.URLDecoder.decode(s.stripPrefix(name + "="), UTF_8) }

  /** Run a retrieval handler with uniform error mapping: a caller error
    * (bad phrase, non-positional index, malformed vector) answers 400
    * with the message — the fail-loud library contract surfaced as a
    * client error, not a 500.
    */
  private def searchRoute(ex: HttpExchange)(
      body: HttpApi.Retrieval => String): Unit =
    retrievalConf match {
      case None => respond(ex, 404,
        """{"error":"retrieval not configured"}""")
      case Some(conf) =>
        // per-request scheduler pool (thread-scoped, so each concurrent
        // handler gets its own): with `spark.scheduler.mode=FAIR` on
        // the serving context, two concurrent heavy searches SHARE
        // executor slots fairly instead of the second's stages queueing
        // behind every stage of the first (FIFO gives the head job all
        // the slots it asks for). Under the default FIFO mode the
        // property is inert — correctness never depends on it. The
        // cached-pool dispatch above prevents the deadlock half;
        // this is the throughput half.
        // Pool names are bounded (mod 32): Spark's root pool retains
        // every pool name it has ever seen, and a long-lived server
        // with a cached thread pool mints unbounded thread ids — a
        // fixed 32-name space keeps fairness without that slow leak.
        val sc = conf.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool",
          "graft-search-" + (Thread.currentThread().getId % 32))
        try respond(ex, 200, body(conf))
        catch {
          case e @ (_: IllegalArgumentException | _: IllegalStateException |
              _: NumberFormatException) =>
            respond(ex, 400, "{\"error\":" + ServingJson.str(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)) + "}")
        } finally sc.setLocalProperty("spark.scheduler.pool", null)
    }

  /** The one-row (query_id = 0) query frame of a single HTTP search. */
  private def oneQuery(conf: HttpApi.Retrieval, cols: (String, Column)*)
      : DataFrame =
    conf.spark.range(1).select(cols.map { case (n, c) => c.as(n) }: _*)

  private def indexPath(conf: HttpApi.Retrieval): String =
    conf.lexicalIndexPath.getOrElse(
      throw new IllegalStateException("no lexical index configured"))

  /** The route's path parameter; 400 when absent. */
  private def keyOf(ex: HttpExchange, route: String, what: String): String =
    pathKey(ex, s"/search/$route/").getOrElse(
      throw new IllegalArgumentException(s"no $what"))

  /** The route's whitespace-separated path terms; 400 when none. */
  private def termsOf(ex: HttpExchange, route: String): Seq[String] =
    pathKey(ex, s"/search/$route/")
      .map(_.split("\\s+").filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("no query terms"))

  /** One result row as a JSON object of its columns, in column order
    * (strings quoted, numbers as their `toString`).
    */
  private def rowJson(r: Row): String =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      ServingJson.str(n) + ":" + (r.get(i) match {
        case null => "null"
        case s: String => ServingJson.str(s)
        case v => v.toString
      })
    }.mkString("{", ",", "}")

  /** Register `/search/{route}/`: `answer` gets the configuration, the
    * configured lexical index path and the request, and returns the
    * ordered result frame holding exactly the columns to render; the
    * response is its rows as a JSON array of [[rowJson]] objects.
    */
  private def searchContext(route: String)(
      answer: (HttpApi.Retrieval, String, HttpExchange) => DataFrame): Unit =
    server.createContext(s"/search/$route/", { ex =>
      searchRoute(ex) { conf =>
        answer(conf, indexPath(conf), ex).collect().map(rowJson)
          .mkString("[", ",", "]")
      }
    })

  /** `/search/bm25/{terms}`: whitespace-separated terms → top-k doc ids
    * from the maintained lexical index, `[{"rank":1,"doc_id":42},...]`.
    */
  searchContext("bm25") { (conf, path, ex) =>
    LexicalIndex.bm25TopKIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L),
          "qterms" -> typedlit(termsOf(ex, "bm25"))),
        "query_id", "qterms", kOf(ex, conf))
      .orderBy("rank").select("rank", "doc_id")
  }

  /** `/search/phrase/{phrase}`: quoted-phrase retrieval from a
    * POSITIONAL lexical index,
    * `[{"rank":1,"doc_id":4,"n_hits":3},...]`; 400 on a
    * non-positional index (the library's fail-loud contract).
    */
  searchContext("phrase") { (conf, path, ex) =>
    LexicalIndex.phraseTopKIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L),
          "phrase" -> lit(keyOf(ex, "phrase", "phrase"))),
        "query_id", "phrase", kOf(ex, conf))
      .orderBy("rank").select("rank", "doc_id", "n_hits")
  }

  /** `/search/near/{terms}?slop=N`: proximity retrieval from a
    * POSITIONAL lexical index — docs holding every term within a word
    * window of `slop` (default 8), tightest-first,
    * `[{"rank":1,"doc_id":4,"span":2},...]`; 400 on a non-positional
    * index or a malformed slop (the library's fail-loud contract).
    */
  searchContext("near") { (conf, path, ex) =>
    val terms = keyOf(ex, "near", "query terms")
    val slop = queryParam(ex, "slop").map(_.toInt).getOrElse(8)
    LexicalIndex.proximityTopKIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L), "qterms" -> lit(terms)),
        "query_id", "qterms", slop, kOf(ex, conf))
      .orderBy("rank").select("rank", "doc_id", "span")
  }

  /** `/search/passage/{terms}?window=N`: windowed-passage retrieval
    * from a POSITIONAL lexical index — docs ranked by their
    * query-term-densest `window`-word span (default 8), winning start
    * returned, `[{"rank":1,"doc_id":4,"n_hits":3,"start":12},...]`;
    * with a configured corpus (`docsPath`) each row also carries the
    * sliced passage TEXT (`"snippet":"..."` — the retrieve-then-quote
    * payload), served by [[graft.operators.LexicalIndex
    * .passageSnippetsIndexed]] with the corpus scan bounded to the k
    * winning ids; `?highlight=1` wraps matched terms in `[...]` —
    * pure presentation over the k ranked rows. 400 on a non-positional
    * index or malformed window.
    */
  searchContext("passage") { (conf, path, ex) =>
    val terms = keyOf(ex, "passage", "query terms")
    val window = queryParam(ex, "window").map(_.toInt).getOrElse(8)
    val q = oneQuery(conf, "query_id" -> lit(0L), "qterms" -> lit(terms))
    val k = kOf(ex, conf)
    val cols = Seq("rank", "doc_id", "n_hits", "start").map(col)
    conf.docsPath match {
      case Some(docs) =>
        // snippets hold NORMALIZED tokens, so matching is exact
        // whole-token equality against the normalized query terms
        val qset = terms.toLowerCase.split("\\W+").filter(_.nonEmpty)
        val highlight = queryParam(ex, "highlight")
          .exists(v => v == "1" || v == "true")
        val snippet =
          if (!highlight) col("snippet")
          else array_join(transform(split(col("snippet"), " "), w =>
            when(w.isin(qset: _*), concat(lit("["), w, lit("]")))
              .otherwise(w)), " ")
        LexicalIndex.passageSnippetsIndexed(conf.spark, path,
            conf.spark.read.parquet(docs), conf.docIdCol, conf.docTextCol,
            q, "query_id", "qterms", window, k)
          .orderBy("rank").select(cols :+ snippet.as("snippet"): _*)
      case None =>
        LexicalIndex.passageTopKIndexed(conf.spark, path, q, "query_id",
            "qterms", window, k)
          .orderBy("rank").select(cols: _*)
    }
  }

  /** `/search/index`: operational snapshot of the configured lexical
    * index ([[graft.operators.LexicalIndex.describe]]) — layout knobs,
    * generation ids, folded-batch count, corpus totals and the parquet
    * file count (the compaction-pressure signal). The retrieval
    * family's analog of `/metadata`.
    */
  server.createContext("/search/index", { ex =>
    searchRoute(ex) { conf =>
      val i = LexicalIndex.describe(conf.spark, indexPath(conf))
      s"""{"n_buckets":${i.nBuckets},"positional":${i.positional},""" +
        s""""posting_generations":${i.postingGenerations
          .map(ServingJson.str).mkString("[", ",", "]")},""" +
        s""""stats_generations":${i.statsGenerations
          .map(ServingJson.str).mkString("[", ",", "]")},""" +
        s""""folded_batches":${i.foldedBatches},"n_docs":${i.nDocs},""" +
        s""""total_len":${i.totalLen},"parquet_files":${i.parquetFiles}}"""
    }
  })

  /** `/search/bool/{expr}`: boolean-filtered BM25 — `+term` is
    * required in every hit, `-term` disqualifies, bare terms score
    * (`fast +table -zebra`). Candidates satisfying the gates rank by
    * the standard BM25 score over their matched scoring terms.
    * `[{"rank":1,"doc_id":42},...]`; an all-negative expression
    * answers 400 (nothing to rank).
    */
  searchContext("bool") { (conf, path, ex) =>
    val raw = termsOf(ex, "bool")
    def signed(op: String) =
      typedlit(raw.filter(_.startsWith(op)).map(_.drop(1)).filter(_.nonEmpty))
    LexicalIndex.bm25TopKBoolIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L), "must" -> signed("+"),
          "should" -> typedlit(raw.filterNot(t =>
            t.startsWith("+") || t.startsWith("-"))),
          "mustNot" -> signed("-")),
        "query_id", "must", "should", "mustNot", kOf(ex, conf))
      .orderBy("rank").select("rank", "doc_id")
  }

  /** `/search/fuzzy/{terms}?dist=N`: typo-tolerant BM25 from the
    * lexical index — each term expands to the vocabulary terms within
    * Levenshtein `dist` (default 1) via the SymSpell deletion-variant
    * join, then ranks through the one BM25 path.
    * `[{"rank":1,"doc_id":42},...]`; a query whose terms expand to
    * nothing answers `[]`.
    */
  searchContext("fuzzy") { (conf, path, ex) =>
    val terms = termsOf(ex, "fuzzy")
    val dist = queryParam(ex, "dist").map(_.toInt).getOrElse(1)
    LexicalIndex.bm25TopKFuzzyIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L), "qterms" -> typedlit(terms)),
        "query_id", "qterms", kOf(ex, conf), maxDist = dist)
      .orderBy("rank").select("rank", "doc_id")
  }

  /** `/search/mlt/{docId}?m=N`: more-like-this — the k docs most
    * similar to the given corpus document, ranked by BM25 over its own
    * top-`m` (default 3) tf-idf terms; the seed itself is excluded.
    * Seed text comes from the corpus table (`docsPath` — 400 when
    * absent), keyword idf and the ranking from the maintained index.
    * `[{"rank":1,"doc_id":42},...]`; an unknown docId answers `[]`.
    */
  searchContext("mlt") { (conf, path, ex) =>
    val docs = conf.docsPath.getOrElse(
      throw new IllegalStateException(
        "no corpus table configured (Retrieval.docsPath) - " +
          "more-like-this reads the seed's text from the corpus"))
    val seedId = pathKey(ex, "/search/mlt/")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(throw new IllegalArgumentException(
        "more-like-this needs a numeric doc id"))
    val m = queryParam(ex, "m").map(_.toInt).getOrElse(3)
    LexicalIndex.moreLikeThisIndexed(conf.spark, path,
        conf.spark.read.parquet(docs), conf.docIdCol, conf.docTextCol,
        oneQuery(conf, "doc_id" -> lit(seedId)), "doc_id",
        mTerms = m, k = kOf(ex, conf))
      .orderBy("rank").select("rank", "doc_id")
  }

  /** `/search/significant/{terms}`: the match set's over-represented
    * vocabulary ([[graft.operators.LexicalIndex
    * .significantTermsIndexed]] — log df-lift vs the corpus, the
    * query's own terms excluded), the mined facet panel beside
    * `/search/facets`. `[{"rank":1,"term":"...","score":1.234567},...]`.
    */
  searchContext("significant") { (conf, path, ex) =>
    LexicalIndex.significantTermsIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L),
          "qterms" -> lit(keyOf(ex, "significant", "query terms"))),
        "query_id", "qterms", kOf(ex, conf))
      .orderBy("rank").select("rank", "term", "score")
  }

  /** `/search/facets/{terms}`: the search-facet panel — how the docs
    * matching ANY query term distribute over the corpus's configured
    * facet column (`Retrieval.facetCol`), biggest slice first (facet
    * as tiebreak). Match set from the maintained index, facet
    * attribute from the corpus table (`docsPath` — 400 when absent).
    * `[{"facet":"en","n_docs":3},...]` (facets render as strings); an
    * unlabeled (null-facet) slice renders `"facet":null`.
    */
  searchContext("facets") { (conf, path, ex) =>
    val docs = conf.docsPath.getOrElse(
      throw new IllegalStateException(
        "no corpus table configured (Retrieval.docsPath) - facets " +
          "join per-doc attributes from the corpus"))
    LexicalIndex.facetCountsIndexed(conf.spark, path,
        oneQuery(conf, "query_id" -> lit(0L),
          "qterms" -> lit(keyOf(ex, "facets", "query terms"))),
        "query_id", "qterms", conf.spark.read.parquet(docs), conf.docIdCol,
        conf.facetCol)
      .orderBy(col("n_docs").desc, col("facet"))
      .select(col("facet").cast("string").as("facet"), col("n_docs"))
  }

  /** `/search/hybrid/{terms}?vec=0.1,0.2,...`: reciprocal-rank fusion
    * ([[graft.operators.RankFusion.rrf]] — the q137 math, single-homed)
    * of the lexical BM25 list with the dense
    * [[graft.operators.Similarity.ivfTopKIndexed]] list over the
    * configured ANN index; the caller supplies the query embedding (the
    * encoder lives outside the engine). `[{"rank":1,"doc_id":42},...]`.
    */
  searchContext("hybrid") { (conf, lexPath, ex) =>
    val annPath = conf.annIndexPath.getOrElse(
      throw new IllegalStateException("no ANN index configured"))
    val terms = termsOf(ex, "hybrid")
    val qv = queryParam(ex, "vec")
      .map(_.split(",").map(_.trim.toDouble))
      .getOrElse(throw new IllegalArgumentException(
        "hybrid search needs ?vec=<comma-separated query embedding>"))
    val k = kOf(ex, conf)
    val lex = LexicalIndex.bm25TopKIndexed(conf.spark, lexPath,
      oneQuery(conf, "query_id" -> lit(0L), "qterms" -> typedlit(terms)),
      "query_id", "qterms", k)
    // the dense list is ordered (sim desc, id asc); rebuild the
    // (query_id, rank, doc_id) shape rrf expects from its k rows
    val dense = graft.operators.Similarity.ivfTopKIndexed(conf.spark,
        annPath, conf.annIdCol, conf.annEmbCol, qv, queryId = -1L, k)
      .collect().zipWithIndex
      // read the id defensively: a non-integral annIdCol must surface
      // as the route's 400 (searchRoute maps IllegalArgumentException),
      // not as a ClassCastException-driven 500 on every request
      .map { case (r, i) =>
        val id = r.get(0) match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"ANN id column '${conf.annIdCol}' must be integral; " +
              s"index holds ${if (other == null) "null"
                else other.getClass.getSimpleName}")
        }
        (0L, (i + 1).toLong, id)
      }
    import conf.spark.implicits._
    val denseDf = dense.toSeq.toDF("query_id", "rank", "doc_id")
    graft.operators.RankFusion
      .rrf(Seq(lex.select("query_id", "rank", "doc_id"), denseDf),
        "doc_id", k)
      .orderBy("rank").select("rank", "doc_id")
  }

  def start(): this.type = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object HttpApi {

  /** Configuration of the `/search/...` retrieval routes: the persisted
    * index paths the instance serves (either may be absent — a route
    * whose index is unconfigured answers 400) and the ANN index's id /
    * embedding column names. `k` is the default result count
    * (`?k=` overrides per request).
    *
    * `docsPath` points the serving edge at the corpus parquet (id +
    * text + facet columns): `/search/passage` then attaches snippet
    * TEXT (the retrieve-then-quote payload a RAG caller wants) and
    * `/search/facets` serves the panel — both slice the corpus with a
    * k-bounded or column-pruned scan, never a full read. Routes that
    * need it answer 400 when it is absent.
    */
  final case class Retrieval(
      spark: org.apache.spark.sql.SparkSession,
      lexicalIndexPath: Option[String] = None,
      annIndexPath: Option[String] = None,
      annIdCol: String = "vec_id",
      annEmbCol: String = "embedding",
      k: Int = 5,
      docsPath: Option[String] = None,
      docIdCol: String = "doc_id",
      docTextCol: String = "text",
      facetCol: String = "lang")

  /** Percent-encode one path segment (URLEncoder is form-encoding; its '+'
    * for space is wrong in a path).
    */
  def encodePath(segment: String): String =
    java.net.URLEncoder.encode(segment, UTF_8).replace("+", "%20")

  /** Deterministic key → instance index; every instance must agree.
    * (Reference analog: the store serializer's partition hash,
    * `WordCountService.java:110-112`.)
    */
  def ownerOf(key: String, nInstances: Int): Int = {
    var h = 0
    var i = 0
    while (i < key.length) { h = 31 * h + key.charAt(i); i += 1 }
    java.lang.Math.floorMod(h, nInstances)
  }
}
