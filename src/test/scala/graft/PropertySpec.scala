package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Property-style invariants from SURVEY §5 over seeded random fixtures
  * (deterministic `scala.util.Random(seed)` — no extra test deps).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomTrades(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val syms = Seq("BTC", "ETH", "SOL")
    (0 until n).map { i =>
      (syms(rnd.nextInt(3)), rnd.nextInt(1000L.toInt).toLong * 100L,
        10.0 + rnd.nextDouble() * 90.0, 0.1 + rnd.nextDouble() * 9.9,
        rnd.nextBoolean(), i.toLong)
    }.toDF("symbol", "ts_ms", "price", "qty", "is_buyer_maker", "trade_id")
  }

  for (seed <- Seq(1L, 7L, 42L)) {
    test(s"A1 invariants hold on seed $seed: vwap in [min,max], imbalance in [-1,1], buy+sell=total") {
      val out = TradeAggregates.tradeBatchStats(
        randomTrades(seed, 500), Seq($"symbol"), $"price", $"qty",
        $"is_buyer_maker", $"ts_ms", $"trade_id").collect()
      out.foreach { r =>
        val vwap = r.getAs[Double]("vwap")
        assert(vwap >= r.getAs[Double]("min_price") - 1e-9)
        assert(vwap <= r.getAs[Double]("max_price") + 1e-9)
        val imb = r.getAs[Double]("volume_imbalance")
        assert(imb >= -1.0 && imb <= 1.0)
        assert(
          math.abs(
            r.getAs[Double]("buy_volume") + r.getAs[Double]("sell_volume") -
              r.getAs[Double]("total_volume")) < 1e-6)
      }
    }

    test(s"A4 bar invariants hold on seed $seed: high>=max(open,close), low<=min(open,close), counts sum") {
      val trades = randomTrades(seed, 500)
      val bars = Bars.ohlcv(trades, $"symbol", $"ts_ms", $"price", $"qty", $"trade_id", 10000L)
        .collect()
      bars.foreach { b =>
        val (o, h, l, c) = (
          b.getAs[Double]("open_price"), b.getAs[Double]("high_price"),
          b.getAs[Double]("low_price"), b.getAs[Double]("close_price"))
        assert(h >= math.max(o, c) && l <= math.min(o, c))
      }
      assert(bars.map(_.getAs[Long]("trade_count")).sum === 500L)
    }

    test(s"D1 dedup is idempotent and order-insensitive on seed $seed") {
      val t = randomTrades(seed, 300)
      // introduce duplicates by halving the key space
      val dup = t.withColumn("k", pmod($"trade_id", lit(40L)))
      val once = SetOps.dedupFirst(dup, Seq($"symbol", $"k"), $"ts_ms", $"trade_id")
      val twice = SetOps.dedupFirst(once, Seq($"symbol", $"k"), $"ts_ms", $"trade_id")
      assert(once.count() === twice.count())
      val shuffled = SetOps.dedupFirst(
        dup.orderBy(rand(seed)), Seq($"symbol", $"k"), $"ts_ms", $"trade_id")
      val a = once.select("symbol", "k", "trade_id").collect().map(_.toString).sorted
      val b = shuffled.select("symbol", "k", "trade_id").collect().map(_.toString).sorted
      assert(a.toSeq === b.toSeq)
    }

    test(s"U1 union-then-dedup == dedup-then-union on seed $seed") {
      val t = randomTrades(seed, 200).withColumn("k", pmod($"trade_id", lit(50L)))
      val h1 = t.filter($"trade_id" < 100)
      val h2 = t.filter($"trade_id" >= 60) // overlap [60,100)
      val unionThen = SetOps
        .dedupFirst(h1.unionByName(h2), Seq($"k"), $"ts_ms", $"trade_id").count()
      val full = SetOps.dedupFirst(t, Seq($"k"), $"ts_ms", $"trade_id").count()
      assert(unionThen === full)
    }
  }

  for (seed <- Seq(7, 23))
    test(s"book replay invariants on random delta logs, seed $seed") {
      // ts monotone in uid (a real feed's property): chunk order then agrees
      // with application order, which the timeline's validity logic assumes
      val rnd = new scala.util.Random(seed)
      val log = (1 to 400).map { i =>
        val sym = "S" + rnd.nextInt(3)
        val side = if (rnd.nextBoolean()) "bid" else "ask"
        val price = (90 + rnd.nextInt(25)).toDouble
        val qty = if (rnd.nextInt(6) == 0) 0.0 else (1 + rnd.nextInt(9)).toDouble
        (sym, i.toLong, i.toLong * 10, side, price, qty)
      }.toDF("symbol", "uid", "ts_ms", "side", "price", "qty")
      def timeline(df: org.apache.spark.sql.DataFrame) =
        graft.operators.BookReplay.timeline(
          df, symbol = col("symbol"), updateId = col("uid"), tsMs = col("ts_ms"),
          side = col("side"), price = col("price"), qty = col("qty"),
          chunkMs = 250L, depth = 10)
      val tl = timeline(log)
      // 1 — the timeline's LAST snapshot per symbol IS the end-state book
      val lastSnap = tl
        .withColumn("__mx", max(col("snapshot_ts")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("symbol")))
        .filter(col("snapshot_ts") === col("__mx"))
        .select("symbol", "side", "level", "price", "qty")
      val levels = graft.operators.BookReplay.levels(
        log, symbol = col("symbol"), updateId = col("uid"),
        side = col("side"), price = col("price"), qty = col("qty"), depth = 10)
        .select("symbol", "side", "level", "price", "qty")
      assert(lastSnap.exceptAll(levels).isEmpty && levels.exceptAll(lastSnap).isEmpty)
      // 2 — snapshot compaction never changes any snapshot anywhere
      val compacted = graft.operators.BookReplay.compact(
        log, symbol = col("symbol"), updateId = col("uid"), tsMs = col("ts_ms"),
        side = col("side"), price = col("price"), qty = col("qty"),
        chunkMs = 250L, everyChunks = 4)
      val tlc = timeline(compacted)
      assert(tlc.exceptAll(tl).isEmpty && tl.exceptAll(tlc).isEmpty)
    }

  test("AsOf.backward never returns a right row after the left ts, nearest always within tolerance") {
    val rnd = new scala.util.Random(11L)
    val left = (0 until 200).map(i => ("K", rnd.nextInt(100000).toLong, i.toLong))
      .toDF("k", "lts", "lid")
    val right = (0 until 300).map(i => ("K", rnd.nextInt(100000).toLong, i.toLong, rnd.nextDouble()))
      .toDF("k", "rts", "rid", "v")
    val bw = AsOf.backward(left, right, "k", "lts", "rts", 5000L, Seq("v", "rid"), "rid")
    assert(bw.filter(col("__right_ts") > col("lts")).count() === 0)
    assert(bw.filter(col("lts") - col("__right_ts") > 5000L).count() === 0)
    assert(bw.groupBy("lid").count().filter($"count" > 1).count() === 0)
    val nr = AsOf.nearest(left, right, "k", "lts", "rts", 5000L, Seq("v"))
    assert(nr.filter(abs(col("__right_ts") - col("lts")) > 5000L).count() === 0)
    assert(nr.groupBy("lid").count().filter($"count" > 1).count() === 0)
  }

  test("LSH finds planted exact-duplicate pairs (jaccard 1.0 detection probability = 1)") {
    val rnd = new scala.util.Random(5L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0 until 60).map { i =>
      val words = (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }
    // plant exact copies of docs 0..4 as ids 100..104
    val planted = (0 until 5).map(i => (100L + i, docs(i)._2))
    val df = (docs ++ planted).toDF("doc_id", "text")
    val pairs = TextDedup.nearDuplicates(df, $"doc_id", $"text", threshold = 0.99)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 100L + i)), s"missing planted pair $i")
    }
  }

  // chunk = 2.5 windows: the trailing and leading band edges differ
  private val (windowMs, chunkMs) = (1000L, 2500L)

  /** Trades built to break a chunk stitch: rows on chunk edges and on the
    * band edges `chunk*chunkMs ± windowMs` (each also a millisecond either
    * side), duplicate timestamps and silences of more than one chunk; one
    * row in seven on a second symbol.
    */
  private def adversarialTrades(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    // the step to the first `target + k*chunkMs` at or after t
    def stepTo(target: Long): Long = {
      var x = target
      while (x < t) x += chunkMs
      x - t
    }
    (0 until 400).foreach { _ =>
      val jitter = rnd.nextInt(3) - 1L
      t += (rnd.nextInt(7) match {
        case 0 => 0L // duplicate timestamp
        case 1 => stepTo((t / chunkMs + 1) * chunkMs + jitter) // chunk edge
        case 2 => stepTo((t / chunkMs + 1) * chunkMs - windowMs + jitter) // trailing band edge
        case 3 => stepTo((t / chunkMs) * chunkMs + windowMs + jitter) // leading band edge
        case 4 => (chunkMs * 3) + rnd.nextInt(1000) // skip >1 empty chunk
        case _ => rnd.nextInt(700).toLong + 1L
      })
      ts += t
    }
    ts.zipWithIndex.map { case (tms, i) =>
      (if (i % 7 == 0) "ETH" else "BTC", tms, 10.0 + rnd.nextDouble() * 90.0,
        0.1 + rnd.nextDouble() * 9.9, i.toLong)
    }.toSeq.toDF("symbol", "ts_ms", "price", "qty", "trade_id")
  }

  // each bucketed fork next to its per-symbol twin; the forward horizon and
  // the EWMA's 4-row frame reach across chunks too
  private val bucketedForks: Seq[(String, DataFrame => (DataFrame, DataFrame))] = {
    val (sym, ts, price, qty, tie) =
      (col("symbol"), col("ts_ms"), col("price"), col("qty"), col("trade_id"))
    Seq(
      "A5b bucketed trailing stats" -> (df => (
        Rolling.trailingStats(df, sym, ts, price, qty, tie, windowMs),
        Rolling.trailingStatsBucketed(df, sym, ts, price, qty, tie, windowMs, chunkMs))),
      "W5b bucketed forward path stats" -> (df => (
        Rolling.forwardPathStats(df, sym, ts, price, qty, windowMs),
        Rolling.forwardPathStatsBucketed(df, sym, ts, price, qty, windowMs, chunkMs))),
      "W6b bucketed momentum features" -> (df => (
        Rolling.momentum(df, sym, ts, price, tie, windowMs),
        Rolling.momentumBucketed(df, sym, ts, price, tie, windowMs, chunkMs))),
      "W9b bucketed EWMA features" -> (df => (
        Rolling.ewmaFeatures(df, sym, ts, price, tie, lookback = 4),
        Rolling.ewmaFeaturesBucketed(df, sym, ts, price, tie, lookback = 4, chunkMs = chunkMs))))
  }

  for ((fork, plans) <- bucketedForks; seed <- Seq(5L, 23L)) {
    test(s"$fork equal the per-symbol window on adversarial data, seed $seed") {
      val (plain, bucketed) = plans(adversarialTrades(seed))
      val cols = plain.columns.toSeq
      val a = plain.select(cols.map(col): _*)
      val b = bucketed.select(cols.map(col): _*)
      assert(b.count() === a.count())
      assert(b.exceptAll(a).isEmpty && a.exceptAll(b).isEmpty)
    }
  }

  test("approx sketches stay within error bounds of exact aggregates") {
    val t = Tables.trades(spark, sf)
    // the query output carries the bound checks as booleans (so the DuckDB
    // oracle can assert them); all must hold
    val r = SparkEntry.queries("x_a12_approx_stats")(spark, sf).collect()
    r.foreach { row =>
      val sym = row.getAs[String]("symbol")
      assert(row.getAs[Boolean]("users_bound_ok"), s"HLL bound violated for $sym")
      assert(row.getAs[Boolean]("p95_bound_ok"), s"approx-p95 bound violated for $sym")
    }
    // tighter direct check on the raw sketches than the query's gate bounds
    val raw = t.groupBy("symbol").agg(
      approx_count_distinct(col("user_id")).as("a"),
      countDistinct(col("user_id")).as("e"),
      approx_percentile(col("price"), lit(0.95), lit(1000)).as("ap"),
      percentile(col("price"), lit(0.95)).as("ep")).collect()
    raw.foreach { row =>
      val a = row.getAs[Long]("a").toDouble
      val e = row.getAs[Long]("e").toDouble
      assert(math.abs(a - e) / e < 0.1, s"HLL off: $a vs $e")
      val ap = row.getAs[Double]("ap")
      val ep = row.getAs[Double]("ep")
      assert(math.abs(ap - ep) / math.abs(ep) < 0.05, s"p95 off: $ap vs $ep")
    }
  }

  test("t8 boilerplate removal is the identity when no span repeats enough") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = TextDedup
      .boilerplateSpanRemoval(docs, $"doc_id", $"text", spanWords = 5, maxOccurrences = 100L)
      .orderBy("doc_id").collect()
    // reassembly must be byte-identical to the original text
    assert(out(0).getAs[String]("clean_text")
      === "one two three four five six seven eight nine ten eleven twelve thirteen")
    assert(out(1).getAs[String]("clean_text") === "alpha beta gamma delta")
    assert(out(0).getAs[Long]("n_spans") === 3L && out(0).getAs[Long]("n_kept") === 3L)
  }

  test("t8 counts within-doc repetitions toward the corpus threshold") {
    // one document repeating the same 2-word span 3 times: the span hits
    // maxOccurrences=3 on its own and every copy is removed
    val docs = Seq(
      (1L, "click here click here click here"),
      (2L, "real content stays put")).toDF("doc_id", "text")
    val out = TextDedup
      .boilerplateSpanRemoval(docs, $"doc_id", $"text", spanWords = 2, maxOccurrences = 3L)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_kept") === 0L && out(0).getAs[String]("clean_text") === "")
    assert(out(1).getAs[String]("clean_text") === "real content stays put")
  }

  test("neardupClusters: chains collapse to the min id, separate components stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("doc_a", "doc_b")
    val out = TextDedup.neardupClusters(pairs, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // 3 rounds cover the 3-hop chain 1-2-3-4; {6,7} is its own component
    assert(out === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (6L, 6L), (7L, 6L)))
  }

  for (seed <- Seq(11L, 29L)) {
    test(s"t23/t24 invariants on a random repetitive corpus, seed $seed") {
      // small vocab + planted shared passages => plenty of genuine repeats
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 40).map(i => s"w$i")
      val passage = (0 until 12).map(i => s"shared$i")
      def doc(): String = {
        val len = 20 + rnd.nextInt(40)
        val base = (0 until len).map(_ => vocab(rnd.nextInt(vocab.length)))
        // ~half the docs embed the shared passage at a random offset
        if (rnd.nextBoolean()) {
          val at = rnd.nextInt(base.length)
          (base.take(at) ++ passage ++ base.drop(at)).mkString(" ")
        } else base.mkString(" ")
      }
      val docs = (1L to 60L).map(i => (i, doc())).toDF("doc_id", "text")
      val n = 4

      val spans = Corpus.repeatedSpans(docs, $"doc_id", $"text", n = n, minDocs = 2L)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens")))
      val texts = docs.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      val nTokens = texts.map { case (id, t) => id -> t.split(" ").length.toLong }

      // spans sit inside their doc, are maximal-merged (non-adjacent), and
      // span_tokens is the interval length
      spans.groupBy(_._1).foreach { case (id, ss) =>
        ss.foreach { case (_, s, e, t) =>
          assert(s >= 1L && e <= nTokens(id) && t === e - s + 1)
        }
        ss.sortBy(_._2).sliding(2).foreach {
          case Array((_, _, e1, _), (_, s2, _, _)) =>
            assert(s2 > e1 + 1, s"adjacent spans unmerged in doc $id")
          case _ => ()
        }
      }

      // t24 accounting closes over t23's spans exactly: per doc,
      // n_redacted == total covered positions, the redacted text is the
      // original minus exactly those positions, and every doc has a row
      val spanMap = spans.groupBy(_._1)
      val red = Corpus.redactSpans(docs, $"doc_id", $"text", n = n, minDocs = 2L).collect()
      assert(red.length === 60)
      red.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val covered = spanMap.getOrElse(id, Array.empty).map { case (_, s, e, _) => e - s + 1 }.sum
        assert(r.getAs[Long]("n_tokens") === nTokens(id))
        assert(r.getAs[Long]("n_redacted") === covered, s"doc $id accounting drift")
        val cut = spanMap.getOrElse(id, Array.empty)
          .flatMap { case (_, s, e, _) => s to e }.toSet
        val expect = texts(id)
          .split(" ").zipWithIndex
          .collect { case (tok, i) if !cut(i + 1L) => tok }
          .mkString(" ")
        assert(r.getAs[String]("redacted_text") === expect, s"doc $id redaction drift")
      }
    }
  }

  for (seed <- Seq(13L, 37L)) {
    test(s"winnowing guarantee holds on random corpora, seed $seed") {
      // a shared run of length >= L + w - 1 must ALWAYS be detected, at
      // any per-doc offset (the winnowing theorem); selections must be a
      // subset of the full fingerprint set and strictly sparser
      val rnd = new scala.util.Random(seed)
      val (l, w) = (12, 4)
      val planted = "SHAREDRUNXYZQWE" // 15 = l + w - 1 chars
      def randChars(n: Int): String =
        (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val docs = (1L to 20L).map { i =>
        // every doc embeds the planted run at a random offset in random noise
        (i, randChars(5 + rnd.nextInt(40)) + planted + randChars(5 + rnd.nextInt(40)))
      }.toDF("doc_id", "text")

      val spans = Corpus.winnowedCharSpans(docs, $"doc_id", $"text", l = l, w = w, minDocs = 2L)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
      val texts = docs.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      texts.foreach { case (id, t) =>
        val at = t.indexOf(planted) + 1 // 1-based
        val covering = spans.filter { case (d, s, e) =>
          d == id && s <= at + (w - 1) && e >= at + planted.length - 1 - (w - 1)
        }
        assert(covering.nonEmpty,
          s"doc $id: planted run at $at not covered (spans: ${spans.filter(_._1 == id).toSeq})")
      }

      // selection is a subset of the full per-position fingerprints
      import graft.functions.TextFunctions
      val rows = docs.select(
        $"doc_id",
        TextFunctions.winnowedPackSeq($"text", l, w).as("sel"),
        TextFunctions.charWindowHashSeq($"text", l).as("all")).collect()
      rows.foreach { r =>
        val sel = r.getAs[scala.collection.Seq[Long]]("sel")
        val all = r.getAs[scala.collection.Seq[Long]]("all")
        assert(sel.size < all.size)
        sel.foreach { v =>
          val pos = (v % 4294967296L).toInt // 1-based
          val h = v / 4294967296L
          assert(pos >= 1 && pos <= all.size && all(pos - 1) == h,
            s"selected pack $v does not decode to a real fingerprint")
        }
      }
    }
  }

  test("codepointsOf matches the String decode on well-formed AND malformed UTF-8 (r18 kernel path)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextKernels
    // the reference the fast path must reproduce byte-for-byte: String
    // conversion (U+FFFD replacement on malformed input) + codePointAt walk
    def viaString(b: Array[Byte]): Seq[Int] = {
      val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out += cp
        i += Character.charCount(cp)
      }
      out.toSeq
    }
    val wellFormed = Seq(
      "", "plain ascii", "café naïve", // 2-byte
      "中文テスト", // 3-byte
      new String(Character.toChars(0x1F600)) + "mixed" + new String(Character.toChars(0x10FFFF)), // 4-byte
      " embedded nul", "edge ߿ࠀ￿")
    wellFormed.foreach { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(TextKernels.codepointsOf(UTF8String.fromBytes(b)).toSeq === viaString(b),
        s"well-formed drift on ${s.take(20)}")
    }
    val malformed = Seq[Array[Byte]](
      Array(0x80.toByte), // bare continuation
      Array(0xc0.toByte, 0xaf.toByte), // overlong 2-byte
      Array(0xc2.toByte), // truncated 2-byte
      Array(0xe0.toByte, 0x80.toByte, 0x80.toByte), // overlong 3-byte
      Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), // CESU-8 surrogate D800
      Array(0xf0.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), // overlong 4-byte
      Array(0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF
      Array(0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), // invalid lead
      Array('a'.toByte, 0xe4.toByte, 'b'.toByte), // 3-byte lead, ascii continuation
      Array('a'.toByte, 0xc2.toByte)) // truncated at end
    malformed.foreach { b =>
      assert(TextKernels.codepointsOf(UTF8String.fromBytes(b)).toSeq === viaString(b),
        s"malformed drift on ${b.map(x => f"${x & 0xff}%02x").mkString(" ")}")
    }
  }

  test("TimeUnits: micros->millis->timestamp roundtrips and bucket index is floor-consistent") {
    val rnd = new scala.util.Random(3L)
    val ts = (0 until 500).map(_ => math.abs(rnd.nextLong()) % 4102444800000L).toDF("ms")
    val bad = ts
      .withColumn("b", graft.functions.TimeUnits.bucketIndex($"ms", 60000L))
      .filter($"b" * 60000L > $"ms" || ($"b" + 1) * 60000L <= $"ms")
    assert(bad.count() === 0)
    val us = ts.select(($"ms" * 1000 + 999).as("us"))
      .withColumn("back", graft.functions.TimeUnits.microsToMillis($"us"))
    assert(us.filter($"back" =!= ($"us" - 999) / 1000).count() === 0)
  }
}
