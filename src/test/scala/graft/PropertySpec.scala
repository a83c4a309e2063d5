package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{Slugify, WeatherFunctions}
import graft.weather.{WeatherSources, WeatherTransform}

/** Property-based invariants (SURVEY §5.2): random ragged raw payloads and
  * arbitrary measurement values must never break the pipeline's shape
  * guarantees, whatever the field lengths or value ranges.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** Raw payload with `nHours` time stamps and per-field arrays whose lengths
    * may disagree with the spine (the ragged case transform.py:24-28 guards). */
  private def rawJson(nHours: Int, fieldLens: Map[String, Int]): String = {
    val times = (0 until nHours)
      .map(h => s""""2025-01-0${1 + h / 24}T${f"${h % 24}%02d"}:00"""")
      .mkString("[", ",", "]")
    val fields = fieldLens.map { case (f, len) =>
      s""""$f": ${(1 to len).map(i => s"$i.0").mkString("[", ",", "]")}"""
    }
    (Seq(s""""time": $times""") ++ fields).mkString("""{"hourly": {""", ",", "}}")
  }

  test("pivot invariant: row count == |time|, ragged fields null only themselves") {
    check(Prop.forAll(Gen.choose(1, 8), Gen.choose(0, 10), Gen.choose(0, 10)) {
      (n: Int, lenTemp: Int, lenRain: Int) =>
        val raw = WeatherSources.rawFromJson(spark,
          rawJson(n, Map("temperature_2m" -> lenTemp, "precipitation" -> lenRain)))
        val rows = WeatherTransform
          .hourlyFrame(raw, Seq("temperature_2m" -> "temp", "precipitation" -> "rain"))
          .collect()
        rows.length == n &&
          rows.forall(r => (r.getAs[String]("temp") != null) == (lenTemp == n)) &&
          rows.forall(r => (r.getAs[String]("rain") != null) == (lenRain == n))
    }, n = 15)
  }

  test("daily invariant: temp_min <= temp_max; total_rain never null") {
    check(Prop.forAll(Gen.choose(1, 8)) { n: Int =>
      val raw = WeatherSources.rawFromJson(spark,
        rawJson(n, Map("temperature_2m" -> n, "precipitation" -> n)))
      val air = WeatherSources.emptyRaw(spark)
      WeatherTransform.daily(raw, air).collect().forall { r =>
        val mn = r.getAs[java.lang.Double]("temp_min")
        val mx = r.getAs[java.lang.Double]("temp_max")
        (mn == null || mx == null || mn <= mx) &&
          !r.isNullAt(r.fieldIndex("total_rain")) // fillna(0.0) parity
      }
    }, n = 10)
  }

  test("pm25 categorizer is total and picks the first matching threshold") {
    val labels = WeatherFunctions.LabelsId
    // evaluated via Spark once over a generated batch (row-per-value), so the
    // property exercises the real when-chain, not a Scala re-implementation
    val values = Gen.listOfN(200, Gen.choose(-50.0, 400.0)).sample.get
    val got = values.toDF("pm25")
      .select(WeatherFunctions.pm25Category(col("pm25"))).as[String].collect()
    values.zip(got).foreach { case (v, label) =>
      val expected = WeatherFunctions.Pm25Thresholds.indexWhere(v <= _) match {
        case -1 => labels.length - 1
        case i => i
      }
      assert(label == labels(expected), s"value $v")
    }
  }

  test("slugify is idempotent and produces only [a-z0-9-], never empty") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s: String =>
      val slug = Slugify.slugify(s)
      slug.nonEmpty &&
        (slug.matches("[a-z0-9-]+") || slug == "city") &&
        Slugify.slugify(slug) == slug
    }, n = 100)
  }

  test("token-budget cap equals the sequential per-key prefix cut at ANY shard count") {
    import graft.operators.Curation
    // the two-phase correctness argument (a prefix cut is subset-monotone)
    // must hold for every sharding — compare against a driver-side
    // sequential reference on random rows
    val rowGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 500L), Gen.oneOf("a", "b", "c"), Gen.choose(0L, 400L)))
    check(Prop.forAll(rowGen, Gen.oneOf(1, 3, 16), Gen.choose(100L, 800L)) {
      (rows0, shards, budget) =>
        val rows = rows0.groupBy(_._1).map(_._2.head).toSeq // unique ids
        val got = Curation.capTokensPerKey(rows.toDF("id", "k", "n"),
            col("k"), col("n"), budget, Seq(col("id")), col("id"), shards)
          .collect().map(_.getLong(0)).toSet
        val want = rows.groupBy(_._2).values.flatMap { g =>
          var cum = 0L
          g.sortBy(_._1).flatMap { case (id, _, n) =>
            val keep = cum < budget; cum += n; if (keep) Some(id) else None
          }
        }.toSet
        got == want
    }, n = 12)
  }

  test("span dedup: spans cover every shared shingle, stay disjoint, in bounds") {
    import graft.operators.Dedup
    val k = 3
    val docGen = Gen.listOfN(6, Gen.choose(3, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c"))))
    check(Prop.forAll(docGen) { tokenses =>
      val docs = tokenses.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val spans = Dedup.duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sortBy(_._1)).toMap
      // naive reference: a position is flagged when its k-shingle (or the
      // whole text for a short doc) appears in ANOTHER document
      def shingles(ts: List[String]): Seq[String] =
        if (ts.length < k) Seq(ts.mkString(" "))
        else ts.sliding(k).map(_.mkString(" ")).toSeq
      val all = tokenses.map(shingles)
      val ok = tokenses.zipWithIndex.forall { case (ts, i) =>
        val n = ts.length
        val mine = all(i)
        val others = all.zipWithIndex.filter(_._2 != i).flatMap(_._1).toSet
        val flagged = mine.zipWithIndex.collect { case (s, p) if others(s) => p }
        val got = spans.getOrElse(i.toLong, Array.empty[(Long, Long)]).toSeq
        // every flagged shingle window lies inside some span, spans stay in
        // [1, n], and consecutive spans never touch (maximality)
        flagged.forall { p =>
          got.exists { case (a, b) => a <= p + 1 && math.min(p + k, n) <= b }
        } &&
          got.forall { case (a, b) => a >= 1 && b <= n && a <= b } &&
          got.sliding(2).forall {
            case Seq((_, b1), (a2, _)) => a2 > b1 + 1
            case _ => true
          } &&
          (flagged.nonEmpty || got.isEmpty)
      }
      ok
    }, n = 10)
  }

  test("chunking emits exactly the sliced windows for any (chunk, overlap, length)") {
    import graft.operators.Chunking
    check(Prop.forAll(Gen.choose(2, 12), Gen.choose(0, 5), Gen.choose(0, 40)) {
      (chunk, overlap0, n) =>
        val overlap = math.min(overlap0, chunk - 1)
        val step = chunk - overlap
        val toks = (1 to n).map(i => s"t$i")
        val out = Chunking.chunkByTokens(
            Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
            "doc_id", "text", chunk, overlap)
          .orderBy("chunk_id").collect()
        // integer-exact chunk count, and chunk i is exactly the window
        // starting at i*step — positional truth, no reconstruction tricks
        val expectChunks = if (n <= chunk) 1 else ((n - chunk + step - 1) / step) + 1
        out.length == expectChunks &&
          out.zipWithIndex.forall { case (r, i) =>
            val want = toks.slice(i * step, math.min(i * step + chunk, n))
            r.getAs[String]("chunk_text") == want.mkString(" ") &&
              r.getAs[Long]("n_tokens") == want.length.toLong
          }
    }, n = 25)
  }

  test("loader boundaries partition [0, fill) for every packing layout") {
    import graft.operators.Packing
    val layouts: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("bins", d => Packing.packBins(d, "doc_id", col("n_tokens"), 50L, shards = 4)),
      ("capped", d => Packing.packBinsCapped(d, "doc_id", col("n_tokens"), 50L, shards = 4)),
      ("firstfit", d => Packing.packBinsFirstFit(d, "doc_id", col("n_tokens"), 50L, shards = 4)))
    check(Prop.forAll(Gen.listOfN(40, Gen.choose(1L, 60L))) { toks: List[Long] =>
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "n_tokens")
      layouts.forall { case (tag, layout) =>
        val rows = Packing.loaderBoundaries(layout(docs), "doc_id", col("n_tokens"))
          .collect()
        // every bin's spans must tile [0, fill): first start 0, each next
        // start = previous start + previous length, last boundary = fill —
        // exactly the position-id-reset / attention-boundary contract
        val tiled = rows.forall { r =>
          val starts = r.getAs[scala.collection.Seq[Long]]("doc_starts")
          val lens = r.getAs[scala.collection.Seq[Long]]("doc_tokens")
          starts.length == lens.length &&
            starts.length == r.getAs[Long]("n_docs") &&
            starts.head == 0L &&
            (0 until starts.length - 1).forall(i => starts(i + 1) == starts(i) + lens(i)) &&
            starts.last + lens.last == r.getAs[Long]("fill")
        }
        // and no document may be lost or duplicated across bins (sized off
        // the generated list — shrinking produces shorter ones)
        val covered = rows.map(_.getAs[Long]("n_docs")).sum == toks.length.toLong
        if (!(tiled && covered)) println(s"loader boundary violation in $tag")
        tiled && covered
      }
    }, n = 5)
  }

  test("curriculum pos is a dense permutation of 0..n-1 per bucket at ANY shard count") {
    import graft.operators.Sampling
    val rowGen = Gen.listOfN(60, Gen.zip(Gen.choose(1L, 300L), Gen.choose(0L, 50L)))
    check(Prop.forAll(rowGen, Gen.oneOf(1, 2, 8), Gen.oneOf(2, 3, 5)) {
      (rows0, shards, buckets) =>
        val rows = rows0.groupBy(_._1).map(_._2.head).toSeq
        val out = Sampling.curriculumInterleave(rows.toDF("id", "score"),
            col("id"), col("score"), buckets, shards)
          .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("pos")))
        // per bucket: positions are exactly 0..size-1 (dense, no gaps/dups)
        out.groupBy(_._1).forall { case (_, g) =>
          g.map(_._2).sorted.toSeq == (0L until g.size).toSeq
        }
    }, n = 12)
  }

  test("CMS estimate >= exact count for arbitrary corpora at any width") {
    import graft.operators.Diagnostics
    val docGen = Gen.listOfN(8, Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" ")))
    check(Prop.forAll(docGen, Gen.oneOf(2, 7, 64)) { (texts, width) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      Diagnostics.cmsTopK(docs, "text", depth = 2, width = width, k = 100)
        .collect().forall(r => r.getAs[Long]("est_cnt") >= r.getAs[Long]("exact_cnt"))
    }, n = 10)
  }

  test("cross-source matrix total pairs == sum of C(group_size, 2) over keys") {
    import graft.operators.Diagnostics
    val rowGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("k1", "k2", "k3", "k4"), Gen.oneOf("A", "B", "C")))
    check(Prop.forAll(rowGen) { rows =>
      val got = Diagnostics.crossSourceDupMatrix(
          rows.toDF("k", "source"), col("k"), "source")
        .collect().map(_.getAs[Long]("n_pairs")).sum
      val want = rows.groupBy(_._1).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
      got == want
    }, n = 10)
  }

  test("Morton interleave is a bijection: dimension buckets decode back from z") {
    import graft.operators.Layout
    import org.apache.spark.sql.functions.lit
    val bits = 4
    check(Prop.forAll(Gen.listOfN(12,
        Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { pts =>
      val rows = pts.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b")
        .select(col("id"), col("a"), col("b"),
          Layout.interleaveBits(Seq(col("a"), col("b")), bits).as("z"))
        .collect()
      rows.forall { r =>
        val (a, b, z) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("z"))
        val da = (0 until bits).map(i => ((z >> (2 * i)) & 1) << i).sum
        val db = (0 until bits).map(i => ((z >> (2 * i + 1)) & 1) << i).sum
        da == a && db == b && z < (1L << (2 * bits))
      }
    }, n = 10)
  }

  test("RRF never ranks a strict-consensus loser above a winner; scores bounded") {
    import graft.operators.Similarity
    // random rank lists over a small candidate pool, 2 retrievers
    val listGen = Gen.listOfN(5, Gen.choose(100L, 107L)).map(_.distinct)
    check(Prop.forAll(listGen, listGen) { (l1, l2) =>
      val lex = l1.zipWithIndex.map { case (id, i) => (0L, id, i + 1) }
        .toDF("query_id", "nbr_id", "rank")
      val vec = l2.zipWithIndex.map { case (id, i) => (0L, id, i + 1) }
        .toDF("query_id", "nbr_id", "rank")
      val out = Similarity.rrfFuse(Seq(lex, vec), k = 20)
        .collect().map(r => r.getAs[Long]("nbr_id") ->
          (r.getAs[Long]("rank"), r.getAs[Double]("rrf_score"))).toMap
      val r1 = l1.zipWithIndex.toMap; val r2 = l2.zipWithIndex.toMap
      // strict dominance: better or equal in both lists, strictly better in
      // one, and PRESENT in both (a missing list contributes nothing)
      val dominancePairs = for {
        a <- out.keys; b <- out.keys
        if a != b && r1.contains(a) && r2.contains(a)
        if r1.getOrElse(b, 99) >= r1(a) && r2.getOrElse(b, 99) >= r2(a) &&
          (r1.getOrElse(b, 99) > r1(a) || r2.getOrElse(b, 99) > r2(a))
      } yield out(a)._1 < out(b)._1
      dominancePairs.forall(identity) &&
        out.values.forall { case (_, s) => s > 0.0 && s <= 2.0 / 61.0 + 1e-6 }
    }, n = 10)
  }

  test("rank normalization is a permutation: ranks are exactly 0..n-1 per source") {
    import graft.operators.Curation
    val rowGen = Gen.listOfN(30,
      Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0.0, 3.0)))
    check(Prop.forAll(rowGen, Gen.oneOf(2, 4, 8)) { (rows, shards) =>
      val df = rows.zipWithIndex.map { case ((s, q), i) => (i.toLong, s, q) }
        .toDF("doc_id", "source", "score")
      val out = Curation.rankNormalizeBySource(df, "source", col("score"),
          col("doc_id"), shards = shards)
        .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("src_rank")))
      out.groupBy(_._1).forall { case (_, g) =>
        g.map(_._2).sorted.toSeq == (0L until g.size.toLong)
      }
    }, n = 10)
  }

  test("canonicalizeUrl is idempotent and structurally canonical on random URLs") {
    import graft.operators.Curation
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
      user <- Gen.option(Gen.alphaLowerStr.map(_.take(5)).suchThat(_.nonEmpty))
      host <- Gen.oneOf("Example.COM", "www.Site.org", "a.b.example")
      port <- Gen.option(Gen.oneOf(80, 443, 8080))
      segs <- Gen.listOfN(2, Gen.alphaNumStr.map(_.take(4)))
      slash <- Gen.oneOf("", "/")
      params <- Gen.someOf("utm_source=x", "q=1", "ref=nav", "id=9", "gclid=z")
      frag <- Gen.option(Gen.alphaLowerStr.map(_.take(4)))
    } yield {
      val auth = user.map(_ + "@").getOrElse("") + host +
        port.map(":" + _).getOrElse("")
      val path = segs.filter(_.nonEmpty).map("/" + _).mkString
      val q = if (params.isEmpty) "" else "?" + params.mkString("&")
      s"$scheme://$auth$path$slash$q${frag.map("#" + _).getOrElse("")}"
    }
    check(Prop.forAll(Gen.listOfN(40, urlGen)) { urls =>
      val rows = urls.toDF("url")
        .select(Curation.canonicalizeUrl(col("url")).as("c"))
        .withColumn("cc", Curation.canonicalizeUrl(col("c")))
        .collect()
      rows.forall { r =>
        val c = r.getString(0)
        // scheme://authority runs to the path slash (or query, or end)
        val pathStart = c.indexOf('/', c.indexOf("://") + 3)
        val qStart = c.indexOf('?')
        val authEnd = Seq(pathStart, qStart, c.length).filter(_ >= 0).min
        val schemeAuth = c.substring(0, authEnd)
        c == r.getString(1) && // idempotent: canonical of canonical is itself
          !c.contains("#") && !c.contains("utm_") && !c.contains("gclid") &&
          !c.contains("@") && !c.endsWith("/") &&
          schemeAuth == schemeAuth.toLowerCase
      }
    }, n = 6)
  }

  test("char entropy: permutation- and replication-invariant, log2-alphabet bounded") {
    import graft.functions.Entropy
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String) = Entropy.compute(UTF8String.fromString(s))
    check(Prop.forAll(Gen.alphaNumStr.map(_.take(64)), Gen.long) { (s, seed) =>
      val perm = new String(new scala.util.Random(seed).shuffle(s.toList).toArray)
      val hs = h(s)
      val distinct = s.distinct.length
      hs == h(perm) && // decimal summation makes order genuinely irrelevant
        hs == h(s + s) && // doubled counts, identical distribution -> exact
        hs >= 0.0 &&
        (s.isEmpty || hs <= math.log(distinct.max(1)) / math.log(2) + 1e-9)
    }, n = 30)
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
