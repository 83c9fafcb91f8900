package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL/domain operators — the C4/RefinedWeb-style web-corpus stages every
  * real pipeline runs before text cleaning: host extraction, per-domain
  * rollups, and a blocklist + max-docs-per-domain gate.
  *
  * Everything here is built from codegen'd built-ins (regexp_extract,
  * split, slice) in the RE2-compatible regex subset (no backreferences or
  * lookaround), so the DuckDB oracle replays host and domain extraction
  * character for character and the scoring stays inside whole-stage
  * codegen — no UDFs, no driver work.
  */
object Urls {

  /** Lowercased host of a URL: scheme required (`scheme://`), optional
    * userinfo (`user:pw@`) skipped, host ends at the first `:` (port),
    * `/`, `?`, or `#`. Non-matching strings (no scheme, empty host) give
    * NULL, not "" — absent is absent. Map-only, one regex.
    *
    * This and [[registeredDomainOf]] are the DECLARATIVE reference twins
    * — the literal shape the DuckDB oracle transcribes, spec-pinned
    * value-identical to the imperative [[graft.functions.UrlHostDomain]]
    * that [[withDomain]] actually plans (the declarative tree, inlined
    * through projection collapse at each consumer, cost janino seconds
    * of compile per query).
    */
  def hostOf(url: Column): Column =
    nullif(regexp_extract(lower(url),
      "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^:/?#]+)", 1), lit(""))

  // second-level labels that commonly front a two-letter ccTLD
  // (bbc.co.uk -> registered domain bbc.co.uk, not co.uk). A full public
  // suffix list is data, not code — callers with one use
  // [[withDomainPsl]] / [[pslDomains]]; this heuristic covers the
  // dominant cases map-only (spec-pinned equal to the PSL path on them).
  private val MultiPartSeconds = Seq("co", "com", "net", "org", "gov", "ac", "edu")

  /** Registered-domain (eTLD+1) approximation of a host: the last two
    * labels, or the last three when the second-to-last is a common
    * multi-part second-level (`co`, `com`, ...) AND the TLD is two
    * letters — so `a.b.example.com` -> `example.com`, `news.bbc.co.uk`
    * -> `bbc.co.uk`. NULL host -> NULL domain. Map-only label slicing.
    * Public entry point: declarative reference twin that `UrlsSpec` compares
    * with the PSL path.
    */
  def registeredDomainOf(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    // get() (not element_at): NULL on out-of-range under any ANSI setting
    val take = when(
      n >= 3 &&
        get(labels, n - lit(2)).isin(MultiPartSeconds.map(x => x: Any): _*) &&
        length(get(labels, n - lit(1))) === 2,
      lit(3)).otherwise(lit(2))
    when(host.isNull, lit(null).cast("string"))
      .when(n <= take, host)
      .otherwise(array_join(slice(labels, -take, take), "."))
  }

  // the dominant client/campaign-id query params (utm_*, the social and
  // ads click ids) that make byte-identical pages look distinct to exact
  // dedup. Matched against a whole `k=v` segment: key, then `=` or end.
  private val TrackingParamRe =
    "^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|igshid|yclid|ref_src)(=|$)"

  // one anchored parse of a fragment-stripped absolute URL:
  // 1 scheme, 2 userinfo (with @), 3 host, 4 port (with :), 5 path,
  // 6 query (with ?). RE2-safe (no lookaround/backrefs) so the DuckDB
  // oracle replays it with the identical pattern string.
  private val UrlPartsRe =
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\\?.*)?$"

  /** Canonical form of a URL for dedup keying — the C4/RefinedWeb-style
    * normalization that collapses crawl-artifact variants of the same
    * page onto one string:
    *
    *   - fragment stripped (`#...` never reaches the server);
    *   - scheme and host lowercased (case-insensitive per RFC 3986);
    *     userinfo, path, and query keep their case (case-sensitive);
    *   - default ports dropped (`http://h:80`, `https://h:443`);
    *   - trailing slashes stripped from the path (root included:
    *     `https://h/` = `https://h`);
    *   - tracking query params removed (utm_*, fbclid, gclid, ...);
    *     a query left empty by that drops its `?`. Param ORDER is kept —
    *     reordering can change server behavior and breaks replays.
    *
    * Map-only and imperative: ONE
    * [[graft.functions.UrlCanonicalize]] pass per row (one anchored
    * parse; the declarative twin below re-matches the parts regex per
    * extracted group). Idempotent by construction — canon(canon(x)) =
    * canon(x), spec-pinned — so re-cleaning an already clean corpus is a
    * no-op. A string with no `scheme://` is returned trimmed but
    * otherwise untouched (nothing to parse); NULL stays NULL. Use as
    * the join/dedup key ahead of [[Dedup]] exact passes.
    */
  def canonicalUrl(url: Column): Column =
    graft.functions.GraftFunctions.url_canonicalize(url)

  /** The DECLARATIVE twin of [[canonicalUrl]] — the literal
    * regexp/HOF shape the DuckDB oracle transcribes (all in the RE2
    * subset), spec-pinned value-identical to the imperative expression
    * ([[graft.functions.UrlCanonicalize]] runs the same java.util.regex
    * pattern strings). Kept as the cross-engine reference; production
    * paths use [[canonicalUrl]].
    * Public entry point: reference twin that `UrlsSpec` compares against.
    */
  def canonicalUrlDeclarative(url: Column): Column = {
    val f = regexp_replace(trim(url), "#.*", "")
    def part(i: Int): Column = regexp_extract(f, UrlPartsRe, i)
    val scheme = lower(part(1))
    val port = when((scheme === "http" && part(4) === ":80") ||
      (scheme === "https" && part(4) === ":443"), lit(""))
      .otherwise(part(4))
    val path = regexp_replace(part(5), "/+$", "")
    val query = regexp_replace(part(6), "^\\?", "")
    val keptQ = array_join(
      filter(split(query, "&"), x => !x.rlike(TrackingParamRe)), "&")
    val rebuilt = concat(scheme, lit("://"), part(2), lower(part(3)), port,
      path, when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ)))
    when(part(1) === "", trim(url)).otherwise(rebuilt)
  }

  /** Both derived columns at once (`host`, `domain`) — one imperative
    * [[graft.functions.UrlHostDomain]] struct per row, so downstream
    * filters/joins that substitute the derivation stay constant-size.
    */
  def withDomain(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("__hd",
        graft.functions.GraftFunctions.url_host_domain(col(urlCol)))
      .withColumn("host", col("__hd.host"))
      .withColumn("domain", col("__hd.domain"))
      .drop("__hd")

  /** Host -> registered-domain mapping under a caller-supplied public
    * suffix list — the data-driven alternative to the
    * [[registeredDomainOf]] heuristic, so adopting a real PSL is a table
    * swap, not a code change. Accepts the PSL rule grammar: plain
    * suffixes (`co.uk`), wildcards (`*.ck` — any single extra label is
    * part of the public suffix), and exceptions (`!www.ck` — carves a
    * registrable name out of a wildcard); `//` comments and blank lines
    * skipped. Unlisted TLDs fall back to the PSL default rule `*` (the
    * last label is the public suffix), and a host that IS a public
    * suffix maps to itself (the heuristic's behavior for `co.uk`).
    *
    * Shape: rules explode driver-side (they are data, kilobytes), the
    * host's candidate suffixes (bounded by the longest rule) explode
    * map-side, the rule match is a broadcast equi-join, and the
    * prevailing-rule pick (exception beats all, else longest) is one
    * bounded aggregate over <= maxRuleLabels+1 candidate rows per host.
    * Run it over DISTINCT hosts (what [[withDomainPsl]] does), not the
    * corpus — the census is |hosts|-sized, never |docs|-sized.
    *
    * @return (`hostCol`, `domain`) mapping with one row per DISTINCT
    *         host value — the prevailing-rule aggregate collapses
    *         duplicates; callers needing per-row multiplicity join the
    *         mapping back (what [[withDomainPsl]] does)
    */
  def pslDomains(hosts: DataFrame, hostCol: String,
      suffixRules: Seq[String]): DataFrame = {
    val rules = suffixRules.iterator.map(_.trim)
      .filter(r => r.nonEmpty && !r.startsWith("//"))
      .map { r =>
        // (join key, public-suffix label count on match, exception?)
        if (r.startsWith("!")) {
          val key = r.drop(1)
          (key, key.count(_ == '.'), true) // pub = labels(key) - 1
        } else if (r.startsWith("*.")) {
          val key = r.drop(2)
          (key, key.count(_ == '.') + 2, false) // key labels + the wildcard
        } else (r, r.count(_ == '.') + 1, false)
      }.toSeq
    require(rules.nonEmpty, "suffixRules holds no rules")
    val maxK = rules.map(_._1.count(_ == '.') + 1).max
    val spark = hosts.sparkSession
    import spark.implicits._
    val ruleDf = rules.toDF("__key", "__pub", "__exc")
    val labels = split(col(hostCol), "\\.")
    val n = size(labels)
    val cands = hosts.select(col(hostCol), explode(
        sequence(lit(1), least(n, lit(maxK)))).as("__k"))
      .select(col(hostCol),
        array_join(slice(labels, -col("__k"), col("__k")), ".").as("__cand"))
    // prevailing rule: any exception wins, else the longest public
    // suffix — struct ordering (exc, pub) encodes exactly that priority
    val picked = cands
      .join(broadcast(ruleDf), col("__cand") === col("__key"), "left")
      .groupBy(col(hostCol))
      .agg(max(when(col("__pub").isNotNull,
        struct(col("__exc"), col("__pub")))).as("__m"))
      .select(col(hostCol),
        coalesce(col("__m.__pub"), lit(1)).as("__pub"))
    picked.select(col(hostCol),
      when(col(hostCol).isNull, lit(null).cast("string"))
        .when(n <= col("__pub"), col(hostCol))
        .otherwise(array_join(
          slice(labels, -(col("__pub") + 1), col("__pub") + 1), "."))
        .as("domain"))
  }

  /** [[withDomain]] with the registered domain resolved by a
    * caller-supplied public suffix list instead of the built-in
    * heuristic: hosts dedupe first (the PSL aggregate runs per DISTINCT
    * host), then the (host, domain) mapping joins back — at corpus scale
    * an equi-join on the host key, broadcastable while the host census
    * fits.
    */
  def withDomainPsl(df: DataFrame, urlCol: String,
      suffixRules: Seq[String]): DataFrame = {
    val hosted = df.withColumn("host", hostOf(col(urlCol)))
    val mapping = pslDomains(
      hosted.select(col("host")).where(col("host").isNotNull).distinct(),
      "host", suffixRules)
    hosted.join(mapping, Seq("host"), "left")
  }

  /** Per-domain rollup — the corpus census that drives blocklist and cap
    * decisions: docs, distinct hosts, and total chars per registered
    * domain. One hash aggregate over map-only derived keys; the exchange
    * carries (domain, partial counts), never text.
    */
  def domainRollup(docs: DataFrame, urlCol: String,
      charsCol: String): DataFrame =
    withDomain(docs, urlCol)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col(charsCol)).cast("long").as("chars"))

  /** Blocklist + max-docs-per-domain gate (the C4 "bad domains" pass plus
    * the RefinedWeb per-domain cap). Docs whose registered domain is in
    * `blocklist` drop; each remaining domain keeps at most `maxPerDomain`
    * docs — the smallest ids, so membership is deterministic across
    * re-runs and engines. Docs with NO parseable host pass the blocklist
    * (nothing to match) and are capped as the NULL-domain group.
    *
    * Scale shape: the blocklist is a literal isin filter (pushed to the
    * scan). The cap does NOT window the whole corpus — ONE bounded
    * aggregate (count + [[graft.functions.MinKLongsAggregator]], the
    * q94 `TopKAggregator` machinery specialized to primitive longs)
    * computes each domain's row count and its
    * `maxPerDomain` smallest ids together; under-cap domains pass
    * through an anti-join against the over-cap rows (one row per
    * over-cap domain) and over-cap rows keep exactly the aggregated id
    * set via a semi-join. Never a `row_number` window: over-cap domains
    * are by definition the giant ones, and `Window.partitionBy(domain)`
    * sorts each such domain in ONE task — a mega-domain holding 1% of a
    * 100 TB web corpus would become a single-task sort. The aggregator's
    * partial/final split combines map-side, so the exchange carries at
    * most `maxPerDomain` ids per domain per MAP TASK and nothing ever
    * sorts more than the k-sized buffers; the corpus-wide sort shuffle a
    * naive window would do on the (heavily skewed) domain key never
    * happens.
    *
    * `idCol` must be unique and long-castable (it is a doc id); a finite
    * cap must fit in Int, and the bounded buffer makes caps up to the
    * low thousands the practical range (a larger "cap" is not a cap —
    * the window form is the better tool there).
    */
  def domainGate(docs: DataFrame, urlCol: String, idCol: String,
      blocklist: Seq[String] = Nil,
      maxPerDomain: Long = Long.MaxValue): DataFrame = {
    require(maxPerDomain > 0, "maxPerDomain must be positive")
    val dom = withDomain(docs, urlCol)
    val allowed =
      if (blocklist.isEmpty) dom
      else dom.where(col("domain").isNull ||
        !col("domain").isin(blocklist.map(x => x: Any): _*))
    if (maxPerDomain == Long.MaxValue)
      return allowed.drop("host", "domain")
    require(maxPerDomain <= Int.MaxValue,
      "a finite maxPerDomain must fit in Int (bounded keeper buffer)")
    // fail loud, not silently-empty: a non-numeric id would cast to NULL
    // below, never accumulate, and DELETE every over-cap domain's rows
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"domainGate: idCol '$idCol' must be numeric " +
        s"(got ${docs.schema(idCol).dataType.simpleString}); " +
        "cap keepers are the smallest numeric ids")
    // NULL-safe group key: a plain equi-join on domain would exempt the
    // NULL-domain group from the cap (NULL never equi-matches)
    val keyed = allowed.withColumn("__dk",
      coalesce(col("domain"), lit("\u0000no-domain\u0000")))
    // ONE bounded aggregate carries both decisions: the domain's row
    // count (over-cap or not) and its maxPerDomain smallest ids — the
    // same deterministic membership the row_number-over-id idiom and
    // the DuckDB oracle select. Per-task partial buffers cap at
    // maxPerDomain entries, so the exchange carries at most k longs per
    // domain per map task and the reduce side streams bounded merges —
    // never a sort of a domain's full slice. MinKLongsAggregator is the
    // q94 TopKAggregator machinery specialized to primitive longs (no
    // score tuple to encode on the hot path).
    val mink = udaf(new graft.functions.MinKLongsAggregator(
      maxPerDomain.toInt), org.apache.spark.sql.Encoders.scalaLong)
    // fail loud on NULL ids at execution time: the typed primitive-Long
    // aggregator cannot hold NULL, and a silently-skipped NULL would
    // delete that row from every over-cap domain
    val idLong = when(col(idCol).isNull, raise_error(lit(
        s"domainGate: idCol '$idCol' contains NULL; " +
          "cap keepers are the smallest non-null numeric ids")))
      .otherwise(col(idCol)).cast("long")
    val overCap = keyed.groupBy(col("__dk"))
      .agg(count(lit(1)).as("__n"),
        mink(idLong).as("__ids"))
      .where(col("__n") > maxPerDomain)
    val under = keyed.join(overCap.select(col("__dk")), Seq("__dk"), "left_anti")
    val keepIds = overCap
      .select(col("__dk").as("__kdk"), explode(col("__ids")).as("__keep"))
    val capped = keyed.join(keepIds, col("__dk") === col("__kdk") &&
      col(idCol).cast("long") === col("__keep"), "left_semi")
    under.unionByName(capped).drop("__dk", "host", "domain")
  }
}
