package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Web-corpus curation primitives: URL/domain signals and per-key caps.
  *
  * A crawled training corpus is curated per DOMAIN as much as per document —
  * blocklists, per-domain document caps (no single site dominating the
  * mixture), and domain-level stats all need the domain as a first-class
  * column. Extraction is scan-stage regex (RE2-safe, oracle-mirrorable);
  * the cap is one window shuffle on the key.
  */
object Curation {

  /** Group 1 = raw authority (up to the first slash / whitespace): may still
    * carry userinfo, port, and mixed case — see [[normalizeDomain]]. */
  val DomainPattern = "https?://([^/ \\t\\n\\r]+)"

  /** Canonical domain from a raw URL authority: strip userinfo (`user@`) and
    * port (`:8080`), lowercase, and (by default) fold a leading `www.` —
    * a blocklist or per-domain cap keyed on the raw authority would count
    * `Example.COM`, `example.com:8080`, and `user@example.com` as three
    * different sites. Pure scan-stage regex, RE2-safe (anchored, no
    * lookaround) so the oracle mirrors it verbatim. */
  def normalizeDomain(auth: Column, foldWww: Boolean = true): Column = {
    val host = lower(regexp_replace(
      regexp_replace(auth, "^[^@/]*@", ""), ":[0-9]+$", ""))
    if (foldWww) regexp_replace(host, "^www\\.", "") else host
  }

  /** All domains mentioned in `text`, normalized via [[normalizeDomain]].
    * The transform lambda only touches its element (no captured outer
    * expressions), so it evaluates once per extracted authority. */
  def extractDomains(text: Column, foldWww: Boolean = true): Column =
    transform(regexp_extract_all(text, lit(DomainPattern), lit(1)),
      a => normalizeDomain(a, foldWww))

  /** HTML → text extraction — step ZERO of a web pipeline (everything
    * upstream of [[graft.operators.Lines.c4Clean]] assumes extracted
    * text): drop script/style bodies and comments, turn block-level tags
    * into line breaks (paragraph structure must survive as lines — the
    * line-based cleaners key on it), strip remaining tags, single-pass
    * unescape of the common entities (&amp; LAST, so `&amp;lt;` correctly
    * becomes the literal `&lt;` and never double-unescapes), and normalize
    * whitespace (runs collapse, lines trim, blank runs fold). Pure
    * scan-stage regex chains, RE2-safe ((?is) flags + non-greedy only), so
    * the oracle mirrors every step and a stream runs it unmodified.
    *
    * Deliberately a lightweight extractor, not a DOM parser: boilerplate
    * REMOVAL is the job of the downstream cleaners ([[Lines.c4Clean]],
    * [[Lines.dropBoilerplate]], the span family) — this stage only has to
    * be deterministic, cheap, and lossless about visible text. */
  def htmlToText(html: Column): Column = {
    val h0 = coalesce(html, lit(""))
    val noScript = regexp_replace(h0, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)</?(p|div|br|li|ul|ol|tr|table|h[1-6])\\b[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]+>", " ")
    val unescaped = Seq( // none of these entities contains a regex metachar
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    val spaces = regexp_replace(unescaped, "[ \\t\\f\\r]+", " ")
    val nl = regexp_replace(spaces, " ?\\n ?", "\n")
    val squeezed = regexp_replace(nl, "\\n{2,}", "\n")
    // trim() strips spaces only — boundary newline runs go by regex
    trim(regexp_replace(squeezed, "^\\n+|\\n+$", ""))
  }

  /** Per-source RANK NORMALIZATION: every row gains its exact 0-based rank
    * and percentile rank of `score` WITHIN its source — the calibration
    * step before cross-source score comparisons (a 0.7 from a classifier
    * trained on books and a 0.7 from a web-quality heuristic are not the
    * same quantity; their percentiles are). Downstream, one global
    * threshold on `pct_rank` cuts every source at the same quantile —
    * [[thresholdBySource]] without re-deriving thresholds per use.
    *
    * Scale shape: the rank is EXACT but never windows a corpus-scale
    * partition — the same two-phase sharded-rank shape as the curriculum
    * operator, with score-quantile shards instead of hash shards: per-source
    * shard thresholds come from one percentile aggregation (broadcast,
    * (sources × shards)-bounded), shard membership is a scan-stage
    * comparison chain, ranks window only (source, shard) slices (~1/shards
    * of a source by construction), and broadcast per-shard count offsets
    * reassemble the global per-source rank bit-for-bit (ties at a shard
    * threshold all land in one shard — `score > t` is strict — so shard
    * ranges stay contiguous in (score, id)). */
  def rankNormalizeBySource(df: DataFrame, sourceCol: String, score: Column,
                            idCol: Column, shards: Int = 8,
                            approx: Boolean = false): DataFrame = {
    require(shards > 1, "shards must be > 1")
    // shard thresholds only need to be MONOTONE — shard contiguity in
    // (score, id), not quantile exactness, is the reassembly invariant — so
    // `approx = true` swaps exact percentile (which buffers a per-source
    // value histogram in the agg) for the sketch-based percentile_approx
    // with IDENTICAL output ranks; only shard balance degrades slightly.
    def th(p: Double): Column =
      if (approx) percentile_approx(score, lit(p), lit(10000))
      else percentile(score, lit(p))
    val ths = df.groupBy(col(sourceCol).as("__rn_src"))
      .agg(th(1.0 / shards).as("__t1"),
        (2 until shards).map(i => th(i.toDouble / shards).as(s"__t$i")): _*)
    val shard = (1 until shards)
      .map(i => when(score > col(s"__t$i"), 1).otherwise(0))
      .reduce(_ + _)
    val scored = df
      .join(broadcast(ths), col(sourceCol) === col("__rn_src"))
      .withColumn("__shard", shard)
      .drop("__rn_src").drop((1 until shards).map(i => s"__t$i"): _*)
    // offsets/totals need only per-(source, shard) COUNTS — fold them from
    // the pre-window frame so the rank window is evaluated once, in the
    // output branch, not re-executed inside each broadcast
    val wOff = Window.partitionBy(col(sourceCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored.groupBy(col(sourceCol), col("__shard"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
    val totals = offsets.groupBy(col(sourceCol)).agg(sum("__n").as("src_n"))
    val wS = Window.partitionBy(col(sourceCol), col("__shard"))
      .orderBy(score, idCol)
    scored.withColumn("__r", row_number().over(wS) - 1)
      .join(broadcast(offsets.select(col(sourceCol), col("__shard"), col("__off"))),
        Seq(sourceCol, "__shard"))
      .join(broadcast(totals), Seq(sourceCol))
      .withColumn("src_rank", col("__off") + col("__r"))
      .withColumn("pct_rank",
        when(col("src_n") > 1,
          col("src_rank").cast("double") / (col("src_n") - 1))
          .otherwise(lit(0.0)))
      .drop("__shard", "__r", "__off")
  }

  /** Rank-averaged score ENSEMBLE — the multi-scorer combine for data
    * filtering (a heuristic 0.7, an NB log-odds 42, and an entropy 4.1 are
    * incomparable; their per-source percentile ranks are): every score in
    * `scores` is [[rankNormalizeBySource rank-normalized]] within its
    * source, and `ensemble_score` is the MEAN of the percentile ranks —
    * rank averaging, robust to any monotone rescaling of any member.
    * Output: the input plus one `pct_<name>` per scorer and
    * `ensemble_score`; threshold it globally like any pct_rank.
    *
    * Scale shape: k INDEPENDENT applications of the two-phase sharded rank
    * (each exact, no corpus-scale window partitions — see
    * [[rankNormalizeBySource]]), each reading the base frame directly and
    * rejoined on the unique id — NOT a fold that feeds chain k the output
    * of chain k-1, which would re-evaluate every earlier chain's lineage
    * (k²/2 plan cost; the same recompute trap the MMR rewrite removed).
    * The id joins are uniform-key equi-joins; the mean is a scan-stage
    * k-term sum with a fixed summation order, bit-reproducible. */
  def ensembleRank(df: DataFrame, sourceCol: String, idCol: Column,
                   scores: Seq[(String, Column)], shards: Int = 8,
                   approx: Boolean = false): DataFrame = {
    require(scores.nonEmpty, "need at least one score")
    val rankFrames = scores.map { case (name, sc) =>
      rankNormalizeBySource(df, sourceCol, sc, idCol, shards, approx)
        .select(idCol.as("__er_id"), col("pct_rank").as(s"pct_$name"))
    }
    val joined = rankFrames
      .foldLeft(df.withColumn("__er_id", idCol)) { (acc, r) =>
        acc.join(r, Seq("__er_id"))
      }
    joined.drop("__er_id").withColumn("ensemble_score",
      scores.map { case (n, _) => col(s"pct_$n") }.reduce(_ + _)
        / lit(scores.size.toDouble))
  }

  /** Blocklist term screening: every document gains token-level hit counts
    * against a TERM FRAME (n_tokens, n_blocked, blocked_frac, has_blocked) —
    * the badwords/policy filter of web-corpus pipelines (C4 drops any
    * document containing a listed term; fraction-threshold variants keep
    * documents where the list is incidental). Flags are emitted, not
    * filtered, so one pass feeds both policies and the drop audit.
    *
    * The blocklist is a DataFrame, not a literal Seq: real lists run to tens
    * of thousands of phrases across languages and live in object storage —
    * at that size an `isin`/when-chain expression stops codegenning, while a
    * broadcast join is indifferent to list length. Shape: one explode,
    * broadcast inner join on the term (terms are deduped lowercase), doc-id
    * partial-agg, one bounded left join back — hit rows are the only thing
    * shuffled, the corpus text is scanned once. */
  def blocklistFlags(docs: DataFrame, idCol: String, textCol: String,
                     terms: DataFrame): DataFrame = {
    val termCol = terms.columns.head
    val t = terms.select(lower(col(termCol)).as("tok")).distinct()
    val hits = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .join(broadcast(t), Seq("tok"))
      .groupBy(idCol).agg(count(lit(1)).as("n_blocked"))
    docs.withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_blocked", coalesce(col("n_blocked"), lit(0L)))
      .withColumn("blocked_frac",
        when(col("n_tokens") > 0,
          col("n_blocked").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("has_blocked", col("n_blocked") > 0)
  }

  /** Chat-template control tokens that mark text as MODEL OUTPUT rather
    * than organic web text — the default marker set for
    * [[syntheticScreen]]. Case-sensitive: these are literal serialization
    * artifacts, and lowercasing would false-positive prose like "[inst]". */
  val DefaultTemplateMarkers: Seq[String] = Seq(
    "<|endoftext|>", "<|im_start|>", "<|im_end|>",
    "<|system|>", "<|user|>", "<|assistant|>", "[INST]", "[/INST]")

  /** Assistant-boilerplate phrases (matched lowercase) — the second
    * synthetic-text signal: text a model SAID, scraped back into a crawl. */
  val DefaultAiPhrases: Seq[String] = Seq(
    "as an ai language model", "as a large language model",
    "i cannot assist with", "my training data only goes",
    "regenerate response", "i do not have personal opinions")

  /** Model-output contamination screen — the self-consuming-loop guard: a
    * crawl refreshed after LLMs went mainstream contains model OUTPUT
    * (pasted chats, template-token leakage, assistant boilerplate), and
    * training on it distills the old model instead of the web. Flags each
    * document on two scan-stage signals: a case-sensitive chat-template
    * control-token hit (`has_template`) and a lowercase assistant-phrase
    * hit (`has_ai_phrase`); `is_synthetic` is their OR. Pure Column trees
    * (codegen'd `contains` chain over broadcast-free literals), zero
    * shuffles, stream-safe — the same scan-stage shape as the C4/Gopher
    * rules it runs beside. */
  def syntheticScreen(docs: DataFrame, textCol: String,
                      templateMarkers: Seq[String] = DefaultTemplateMarkers,
                      phrases: Seq[String] = DefaultAiPhrases): DataFrame = {
    require(templateMarkers.nonEmpty && phrases.nonEmpty,
      "need at least one template marker and one phrase")
    val t = col(textCol)
    val lowered = lower(t)
    val hasT = templateMarkers.map(m => t.contains(lit(m))).reduce(_ || _)
    val hasP = phrases.map(p => lowered.contains(lit(p.toLowerCase))).reduce(_ || _)
    docs.withColumn("has_template", coalesce(hasT, lit(false)))
      .withColumn("has_ai_phrase", coalesce(hasP, lit(false)))
      .withColumn("is_synthetic", col("has_template") || col("has_ai_phrase"))
  }

  /** (doc_id, domain) edge list — one row per URL occurrence (NOT distinct:
    * occurrence counts are the ranking signal). */
  def domainEdges(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(extractDomains(col(textCol))).as("domain"))

  /** Canonical form of a CRAWL url — the dedup key a web pipeline uses
    * before any content hash exists (the same page is fetched as
    * `HTTP://Example.com/a?utm_source=x#top` and `http://example.com/a`):
    *   - fragment stripped
    *   - tracking params dropped (`utm_*`, `gclid`, `fbclid`, `ref`),
    *     remaining query order preserved; an emptied query disappears
    *   - scheme+authority lowercased, userinfo stripped, default port
    *     stripped (`:80` on http, `:443` on https)
    *   - one trailing slash stripped
    * Pure scan-stage regex/array ops, RE2-safe (no lookaround, non-greedy
    * only), so the oracle mirrors every step verbatim. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = substring_index(noFrag, "?", 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"), p =>
      length(p) > 0 && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)(=|$)"))
    val q2 = array_join(kept, "&")
    val auth0 = lower(regexp_extract(base, "(?i)^(https?://[^/]+)", 1))
    val auth1 = regexp_replace(auth0, "^(https?://)[^@/]*@", "$1")
    val auth = regexp_replace(
      regexp_replace(auth1, "^(http://[^/]*?):80$", "$1"),
      "^(https://[^/]*?):443$", "$1")
    val path = regexp_replace(
      regexp_replace(base, "(?i)^https?://[^/]+", ""), "/$", "")
    concat(auth, path,
      when(q2 =!= "", concat(lit("?"), q2)).otherwise(lit("")))
  }

  /** URL-keyed exact dedup: one keeper (min id) per [[canonicalizeUrl]]
    * key. Returns the input plus (canonical_url, dup_count, is_keeper).
    *
    * Scale shape: the per-URL aggregate is a partial-agg groupBy (a hot
    * URL's million fetches combine map-side to one row per input
    * partition), and the corpus re-acquires its verdict through ONE join on
    * the canonical key — a shuffle join AQE can skew-split, deliberately
    * NOT a window (a window partition on a hot URL cannot be split). The
    * `shuffle_hash` hint keeps the planner from broadcasting the
    * URL-distinct frame, which grows with the corpus. */
  def dedupByUrl(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val withC = docs.withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
    val agg = withC.groupBy("canonical_url")
      .agg(min(col(idCol)).as("__keep_id"), count(lit(1)).as("dup_count"))
    withC.join(agg.hint("shuffle_hash"), Seq("canonical_url"))
      .withColumn("is_keeper", col(idCol) === col("__keep_id"))
      .drop("__keep_id")
  }

  /** Robots-style URL-PREFIX screening: flag any document whose
    * [[canonicalizeUrl canonical]] crawl URL starts with a blocked prefix —
    * the path-level sibling of [[blocklistFlags]] (entire sections of a
    * site excluded: `/login`, `/search`, a partner's `Disallow:` list).
    * Returns the input plus (canonical_url, url_blocked).
    *
    * The bounded prefix list collapses to ONE broadcast array row at
    * plan-build time and matching is a scan-stage `exists(startsWith)` —
    * a pure function of the row, so the SAME operator runs append-mode on
    * a stream. Per-row cost is linear in the list; a list big enough to need
    * an index is screened in the batch backfill. BOTH sides canonicalize
    * (prefixes are URL-shaped), so `HTTP://Example.com/login#x` cannot
    * dodge an `http://Example.COM/login` rule while path case stays
    * significant. */
  def screenUrlPrefixes(docs: DataFrame, urlCol: String,
                        prefixes: DataFrame): DataFrame = {
    val pCol = prefixes.columns.head
    val p = broadcast(prefixes
      .select(canonicalizeUrl(col(pCol)).as("__p")).distinct()
      .agg(collect_list(col("__p")).as("__ps")))
    docs.crossJoin(p)
      .withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
      .withColumn("url_blocked",
        exists(col("__ps"), x => col("canonical_url").startsWith(x)))
      .drop("__ps")
  }

  /** Parse robots.txt payloads into per-agent Disallow prefix rules —
    * (domain, agent, prefix), the missing producer for
    * [[screenUrlPrefixes]]-style path screening on a polite crawl front
    * end. Grammar subset, documented: `User-agent:` / `Disallow:` lines
    * (case-insensitive field names), `#` comments and blank lines
    * stripped, CONSECUTIVE User-agent lines form one group whose Disallow
    * rules apply to every listed agent (the RFC 9309 group rule), an empty
    * `Disallow:` (allow-all) emits no rule, and `Allow:` lines are ignored
    * — Disallow-only screening is the conservative C4-style posture (never
    * fetch what any matching rule forbids).
    *
    * Scale shape: one posexplode over the robots corpus (KB-sized files),
    * two windows PER DOMAIN (a domain's robots file bounds the partition —
    * never corpus-wide), and a within-(domain, group) equi-join of agents
    * × rules. Agents lowercase; rule paths keep their case (robots paths
    * are case-significant). */
  def parseRobots(robots: DataFrame, domainCol: String,
                  txtCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cleaned = robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(txtCol), "\n")).as(Seq("pos", "line")))
      .withColumn("line", trim(regexp_replace(col("line"), "#.*$", "")))
      .withColumn("kind", lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value", trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("kind").isin("user-agent", "disallow"))
    val wOrd = Window.partitionBy("domain").orderBy("pos")
    val grouped = cleaned
      .withColumn("__start", (col("kind") === "user-agent" &&
          coalesce(lag(col("kind"), 1).over(wOrd) =!= "user-agent", lit(true)))
        .cast("long"))
      .withColumn("group_id", sum(col("__start")).over(wOrd))
    val agents = grouped.filter(col("kind") === "user-agent")
      .select(col("domain"), col("group_id"), lower(col("value")).as("agent"))
    val rules = grouped.filter(col("kind") === "disallow" && col("value") =!= "")
      .select(col("domain"), col("group_id"), col("value").as("prefix"))
    agents.join(rules, Seq("domain", "group_id"))
      .select("domain", "agent", "prefix")
  }

  /** Apply [[parseRobots]] rules to a crawl frame for one crawler
    * identity: per RFC 9309 precedence, a domain with any group naming
    * `agent` exactly uses ONLY those rules (the `*` groups are ignored
    * there); domains with only `*` groups fall back to them; unlisted
    * domains allow everything. A URL is blocked when its canonical
    * path-and-query starts with any applicable Disallow prefix. Returns
    * the input plus (canonical_url, robots_blocked).
    *
    * Scale shape: rules collapse to one (domain → sorted prefix array) row
    * per domain — robots-corpus-bounded, broadcast into the scan — and the
    * match is a scan-stage `exists(startsWith)` on the canonical host key,
    * so the corpus is never shuffled (the [[screenUrlPrefixes]] shape,
    * domain-keyed). */
  def robotsVerdicts(docs: DataFrame, urlCol: String, rules: DataFrame,
                     agent: String): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val r = rules.filter(col("agent").isin(a, "*"))
    val hasExact = r.groupBy("domain")
      .agg(max((col("agent") === a).cast("int")).as("__he"))
    val applied = r.join(hasExact, Seq("domain"))
      .filter(when(col("__he") === 1, col("agent") === a)
        .otherwise(col("agent") === "*"))
    val byDomain = applied.groupBy("domain")
      .agg(array_sort(collect_list(col("prefix"))).as("__prefixes"))
      .withColumnRenamed("domain", "__host")
    docs
      .withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
      .withColumn("__host",
        regexp_extract(col("canonical_url"), "^https?://([^/:]+)", 1))
      .withColumn("__path", {
        val p = regexp_replace(col("canonical_url"), "^https?://[^/]+", "")
        when(p === "", lit("/")).otherwise(p)
      })
      .join(broadcast(byDomain), Seq("__host"), "left")
      .withColumn("robots_blocked",
        coalesce(exists(col("__prefixes"), p => col("__path").startsWith(p)),
          lit(false)))
      .drop("__prefixes", "__host", "__path")
  }

  /** DOMAIN-level screening (the RefinedWeb/Dolma move: curate the SITE,
    * not just the document — a spam domain's every page is spam): fold
    * per-domain (doc count, exact-decimal mean quality), flag domains that
    * exceed `maxDocsPerDomain` (SEO farms / crawler traps) or fall below
    * `minAvgQuality`, and hand every document its domain verdict. Returns
    * the input plus (domain_docs, domain_avg_quality, domain_flagged).
    *
    * Scale shape: the stats fold is a partial-agg groupBy on the domain
    * (map-side combine absorbs hot domains); the corpus takes its verdict
    * from ONE AQE-splittable shuffle join on the domain key, shuffle_hash-
    * pinned because the domain-distinct frame grows with the corpus. The
    * decimal mean keeps the per-domain average order-independent, so the
    * verdict is reproducible bit-for-bit on any partitioning. */
  def screenDomains(docs: DataFrame, idCol: String, domainCol: String,
                    quality: Column, maxDocsPerDomain: Long,
                    minAvgQuality: Double): DataFrame = {
    val stats =
      domainVerdicts(domainStats(docs, domainCol, quality),
        maxDocsPerDomain, minAvgQuality)
        .withColumnRenamed("domain", "__dom")
    docs.join(stats.hint("shuffle_hash"),
      col(domainCol) === col("__dom")).drop("__dom")
  }

  /** MERGEABLE per-domain stats: (domain, domain_docs, q_sum decimal,
    * n_q) — the sufficient statistics behind [[screenDomains]]'s verdict,
    * split out so a continuously-ingesting crawl can MAINTAIN its domain
    * reputations instead of rescanning the corpus: fold the new batch with
    * [[domainStats]], [[mergeDomainStats]] it into the stored frame, and
    * re-derive verdicts with [[domainVerdicts]] — per-update cost scales
    * with the batch plus the domain dimension, never the corpus. Decimal
    * sums make the merge EXACT (associative, order-free), so incremental ≡
    * full-recompute bit-for-bit, which is precisely what the gate checks.
    * `q_sum` is pinned to decimal(28,6) so the schema is a fixed point of
    * merging (Spark widens sum(decimal) per aggregation otherwise). */
  def domainStats(docs: DataFrame, domainCol: String,
                  quality: Column): DataFrame =
    docs.select(col(domainCol).as("domain"), quality.as("__q"))
      .groupBy("domain")
      .agg(count(lit(1)).as("domain_docs"),
        sum(col("__q").cast("decimal(18,6)")).cast("decimal(28,6)").as("q_sum"),
        count(col("__q")).as("n_q"))

  /** Fold two stats frames (stored + increment) into one. Partial-agg
    * groupBy over (domains)-bounded inputs. */
  def mergeDomainStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("domain")
      .agg(sum("domain_docs").as("domain_docs"),
        sum("q_sum").cast("decimal(28,6)").as("q_sum"),
        sum("n_q").as("n_q"))

  /** Verdicts from a stats frame: the avg is q_sum/n_q in double — the
    * exact arithmetic [[graft.functions.ExactAgg.avgD]] produces, so a
    * merged-stats verdict is bit-identical to a full-recompute one. */
  def domainVerdicts(stats: DataFrame, maxDocsPerDomain: Long,
                     minAvgQuality: Double): DataFrame = {
    require(maxDocsPerDomain > 0, "maxDocsPerDomain must be positive")
    stats.select(col("domain"), col("domain_docs"),
        (col("q_sum").cast("double") / col("n_q")).as("domain_avg_quality"))
      .withColumn("domain_flagged",
        col("domain_docs") > maxDocsPerDomain ||
          col("domain_avg_quality") < minAvgQuality)
  }

  /** Keep at most `n` rows per key, in `order` order (deterministic — ties
    * must be broken by a unique column, so `idCol` should appear last in
    * `order`). The standard "no single domain dominates the corpus" cap.
    *
    * `idCol` is a UNIQUE row id and is the phase-1 shard hash source. It
    * must be unique: hashing a low-cardinality column (a quality score, a
    * label) would concentrate every tied value into one shard and silently
    * re-create the hot partition this design exists to avoid — which is why
    * the shard source is an explicit parameter and never inferred from
    * `order` (a score-first `order` is the most natural call).
    *
    * Two-phase EXACT top-N: a single `Window.partitionBy(key)` would put a
    * hot key's entire row set into one window partition (with a handful of
    * sources or one mega-domain, that is the whole corpus through one task).
    * Phase 1 ranks within (key, hash-shard) — every window partition is
    * bounded by its shard; phase 2 re-ranks the <= n*shards survivors per
    * key. The result is identical to the single global window: any row in
    * the global top-n is necessarily in the top-n of its own shard. */
  def capPerKey(df: DataFrame, key: Column, n: Int, order: Seq[Column],
                idCol: Column, shards: Int = 64): DataFrame = {
    val shard = Sampling.hashBucket(idCol.cast("string"), shards, "capshard")
    val w1 = Window.partitionBy(key, shard).orderBy(order: _*)
    val w2 = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("__rank", row_number().over(w1))
      .filter(col("__rank") <= n)
      .withColumn("__rank", row_number().over(w2))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** TOKEN-budget per-key cap — the training-mixture discipline where each
    * domain/source contributes at most `budget` TOKENS (how data recipes
    * are actually specified), not at most n documents. Keeps each key's
    * rows, in `order` order, while the cumulative token count of the PRIOR
    * kept rows stays below `budget` — so every key keeps at least one row,
    * and the row that crosses the budget is the last one kept.
    *
    * Same two-phase exact shape as [[capPerKey]] (and the same `idCol`
    * uniqueness contract): phase 1 prefix-sums within (key, hash-shard),
    * phase 2 re-runs the prefix sum per key over the survivors. Correct
    * because a prefix cut is subset-monotone: a row inside the global
    * budget prefix has even fewer prior tokens within its own shard, so
    * phase 1 can only over-keep, never drop a global survivor; and each
    * shard's survivors carry < budget + one row of tokens, so the phase-2
    * partition is budget-bounded per shard, never corpus-bounded.
    *
    * Subset-monotonicity requires every row's token count to be a
    * non-negative number, so null or negative counts (e.g. Spark's legacy
    * `size(null) = -1` leaking out of a token counter) are clamped to 0
    * before the prefix sums: such rows spend none of the budget instead of
    * nulling the cumulative sum (which would silently drop the row and
    * everything after it in its key). */
  def capTokensPerKey(df: DataFrame, key: Column, tokensCol: Column,
                      budget: Long, order: Seq[Column],
                      idCol: Column, shards: Int = 64): DataFrame = {
    val shard = Sampling.hashBucket(idCol.cast("string"), shards, "capshard")
    val toks = greatest(coalesce(tokensCol.cast("long"), lit(0L)), lit(0L))
    val w1 = Window.partitionBy(key, shard).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(toks).over(w1))
      .filter(col("__cum") - toks < budget)
      .withColumn("__cum", sum(toks).over(w2))
      .filter(col("__cum") - toks < budget)
      .drop("__cum")
  }

  /** ADAPTIVE per-source quality cut: keep each row whose `score` is at or
    * above its own source's p-th percentile — a fixed global threshold
    * over-prunes clean sources and under-prunes noisy ones (the CCNet
    * per-shard perplexity-tercile idea, generalized). Returns the kept rows
    * with a `threshold` column appended.
    *
    * Scale shape (100 TB):
    *  - the per-source thresholds are ONE aggregation; `exact` percentile
    *    keeps per-group value-count state, which is bounded ONLY for
    *    discrete scores (the 16-valued rule score; an int tier) — for
    *    continuous scores (NB probability, perplexity) pass
    *    `approx = true` for sketch-state `percentile_approx`;
    *  - sources are a bounded dimension, so the threshold frame is
    *    BROADCAST and the cut runs in the corpus scan stage — the corpus
    *    itself is never shuffled (the aggregation shuffles per-partition
    *    partial states, not rows);
    *  - no window anywhere: a rank-per-source formulation would funnel
    *    each source's whole corpus slice through one task. */
  def thresholdBySource(df: DataFrame, sourceCol: String, score: Column,
                        p: Double, approx: Boolean = false): DataFrame = {
    val scored = df.withColumn("__score", score)
    val agg =
      if (approx) percentile_approx(col("__score"), lit(p), lit(10000))
      else percentile(col("__score"), lit(p))
    val th = scored.groupBy(col(sourceCol)).agg(agg.as("threshold"))
    scored.join(broadcast(th), Seq(sourceCol))
      .filter(col("__score") >= col("threshold"))
      .drop("__score")
  }

  /** First-fail verdict over an ordered stage list: the label of the FIRST
    * stage whose fail-predicate holds, else `keptLabel` — the per-document
    * "why was this dropped" column of a curation audit. Later predicates are
    * only reached when every earlier stage passed, so each may assume its
    * predecessors' invariants (e.g. a dup-keeper flag left-joined from a
    * subpopulation is non-null by the time its stage is evaluated). Pure
    * scan-stage expression — the audit costs whatever producing the stage
    * flags cost, nothing more. */
  def firstFailVerdict(stages: Seq[(String, Column)],
                       keptLabel: String = "kept"): Column =
    stages.foldRight(lit(keptLabel): Column) { case ((label, failed), rest) =>
      when(failed, label).otherwise(rest)
    }
}
