package graft

import graft.functions.{VectorExpressions, ZCurveExpressions}
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks over the library's codegen'd expressions —
  * randomized inputs (fixed seed: reproducible), each property exercised
  * through the full Spark pipeline (expression → codegen → result), with a
  * driver-side reference computation as the oracle.
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val r = g.doPureApply(Gen.Parameters.default, s)
      (r.seed, r.retrieve)
    }.drop(1).flatMap(_._2).take(n).toSeq

  test("FastMd5.h24 is bit-identical to MessageDigest's h24 across the single-block boundary") {
    import graft.functions.{FastMd5, MinHashAgg}
    val rnd = new scala.util.Random(42)
    val cases = Seq("", " ", "a b", "é ü", "é" * 40, "🎉 emoji pair",
      "word1 word2") ++
      (0 to 120).map(n => rnd.alphanumeric.take(n).mkString) ++
      (1 to 200).map(_ => rnd.nextString(rnd.nextInt(60)))
    cases.foreach { s =>
      assert(FastMd5.h24(s) == MinHashAgg.h24(s),
        s"h24 mismatch for '${s.take(20)}…' (${s.getBytes("UTF-8").length} B)")
    }
    // slice form equals whole-string form on interior slices (the kernel
    // hashes bigram text slices in place)
    val text = "alpha beta gamma delta epsilon".getBytes("UTF-8")
    assert(FastMd5.h24(text, 0, 10) == FastMd5.h24("alpha beta"))
    assert(FastMd5.h24(text, 6, 10) == FastMd5.h24("beta gamma"))
  }

  test("VecDot equals a driver-side fold for random float vectors") {
    import spark.implicits._
    val gen = Gen.listOfN(64, Gen.chooseNum(-10.0f, 10.0f))
    val vecs = samples(gen, 200, seed = 7L).map(_.toArray)
    val pairs = vecs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
    val df = pairs.toDF("a", "b")
    val got = df.select(VectorExpressions.vecDot(spark, "a", "b").as("d"))
      .collect().map(_.getDouble(0))
    val expect = pairs.map { case (a, b) =>
      // same sequential fold order as the expression
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    got.zip(expect).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("FnReg: the library's builder wins over a pre-existing foreign temp function") {
    import spark.implicits._
    // drain this session's registration ownership so the next vecDot call
    // is a first touch, then squat the name with a foreign builder — the
    // library must claim it back instead of silently deferring (ADVICE r8)
    graft.Tables.clearDerived(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(-1.0), "built-in")
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val got = df.select(VectorExpressions.vecDot(spark, "a", "b").as("d"))
      .head.getDouble(0)
    assert(got == 11.0, s"foreign vec_dot builder leaked through: $got")
  }

  test("Z2 encode: bijective on the grid and monotone in each coordinate") {
    import spark.implicits._
    val coord = Gen.chooseNum(0, 65535)
    val pts = samples(Gen.zip(coord, coord), 500, seed = 11L).distinct
    val df = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZCurveExpressions.z2(spark, "x", "y").as("z"))
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    // injectivity: distinct points -> distinct keys
    assert(rows.map(_._2).distinct.length == rows.length)
    // monotonicity (the ZRangePruning soundness argument): growing either
    // coordinate never decreases the key when the other is fixed
    def zOf(x: Int, y: Int): Long = {
      var z = 0L; var i = 0
      while (i < 16) {
        z |= ((x.toLong >> i) & 1L) << (2 * i)
        z |= ((y.toLong >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    rows.foreach { case ((x, y), z) =>
      assert(z == zOf(x, y)) // codegen path == reference bit-interleave
      if (x < 65535) assert(zOf(x + 1, y) > z)
      if (y < 65535) assert(zOf(x, y + 1) > z)
    }
  }

  test("Z3 encode: bijective on the grid and monotone in each of x/y/t") {
    import spark.implicits._
    val coord = Gen.chooseNum(0, 1023) // 10-bit coords
    val pts = samples(Gen.zip(coord, coord, coord), 500, seed = 13L).distinct
    val df = pts.toDF("x", "y", "t")
      .select(col("x"), col("y"), col("t"),
        ZCurveExpressions.z3(spark, "x", "y", "t").as("z"))
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    assert(rows.map(_._2).distinct.length == rows.length)
    def zOf(x: Int, y: Int, t: Int): Long = {
      var z = 0L; var i = 0
      while (i < 10) {
        z |= ((x.toLong >> i) & 1L) << (3 * i)
        z |= ((y.toLong >> i) & 1L) << (3 * i + 1)
        z |= ((t.toLong >> i) & 1L) << (3 * i + 2)
        i += 1
      }
      z
    }
    rows.foreach { case ((x, y, t), z) =>
      assert(z == zOf(x, y, t))
      if (x < 1023) assert(zOf(x + 1, y, t) > z)
      if (y < 1023) assert(zOf(x, y + 1, t) > z)
      if (t < 1023) assert(zOf(x, y, t + 1) > z)
    }
  }

  test("corpus PQ codes: every vector's reconstructed norm is within the corpus envelope") {
    // rn = sqrt(sum of chosen codeword self-dots): positive, and bounded by
    // the max vector norm times a slack factor (codewords are means of
    // corpus subvectors, so their norms cannot exceed the corpus envelope)
    val maxNorm = math.sqrt(
      Tables.embeddings(spark, Sf)
        .select(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x).as("nn"))
        .agg(max("nn")).collect().head.getDouble(0))
    val bad = SimilarityOps.pqCodes(spark, Sf)
      .where(col("rn") <= 0 || col("rn") > maxNorm * 1.001).count()
    assert(bad == 0)
  }

  // ---- binary-parser properties: the two native decoders run inside ----
  // ---- codegen on untrusted bytes, so they must NEVER throw — only   ----
  // ---- decode or return null — and must agree with a reference model ----

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray

  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ le(body.length, 4) ++ body ++
      (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)

  private def renderWav(rate: Long, channels: Int, bits: Int,
                        samples: Seq[Int], junk: Seq[Array[Byte]],
                        dataFirst: Boolean): Array[Byte] = {
    val fmt = riffChunk("fmt ", le(1, 2) ++ le(channels, 2) ++ le(rate, 4) ++
      le(rate * channels * bits / 8, 4) ++ le(channels * bits / 8, 2) ++ le(bits, 2))
    val data = riffChunk("data",
      samples.flatMap(s => le(s.toLong & ((1L << bits) - 1), bits / 8)).toArray)
    val core = if (dataFirst) data ++ fmt else fmt ++ data
    val body = "WAVE".getBytes("US-ASCII") ++ junk.flatten ++ core
    "RIFF".getBytes("US-ASCII") ++ le(body.length, 4) ++ body
  }

  test("WavDecode: random well-formed RIFFs (junk chunks, both layouts) decode to the reference stats") {
    import graft.functions.WavDecode
    val genJunk = Gen.listOfN(2, for {
      id <- Gen.oneOf("LIST", "fact", "cue ", "junk")
      n <- Gen.chooseNum(0, 9)
      bytes <- Gen.listOfN(n, Gen.chooseNum(0, 255))
    } yield riffChunk(id, bytes.map(_.toByte).toArray))
    val genWav = for {
      rate <- Gen.chooseNum(1L, 192000L)
      channels <- Gen.chooseNum(1, 4)
      bits <- Gen.oneOf(8, 16)
      n <- Gen.chooseNum(0, 64)
      samples <- Gen.listOfN(n, Gen.chooseNum(0, (1 << bits) - 1))
      junk <- genJunk
      dataFirst <- Gen.oneOf(true, false)
    } yield (rate, channels, bits, samples, junk, dataFirst)
    samples(genWav, 300, seed = 23L).foreach {
      case (rate, channels, bits, ss, junk, dataFirst) =>
        val r = WavDecode.stats(
          renderWav(rate, channels, bits, ss, junk, dataFirst))
        assert(r != null, s"rate=$rate ch=$channels bits=$bits n=${ss.length}")
        val vals = // the reference sample model: u8 raw, s16 two's-complement
          if (bits == 8) ss.map(_.toLong) else ss.map(s => s.toShort.toLong)
        assert(r.getLong(0) == rate && r.getLong(1) == channels && r.getLong(2) == bits)
        assert(r.getLong(3) == ss.length)
        assert(r.getLong(4) == vals.sum)
        assert(r.getLong(5) == (if (vals.isEmpty) 0L else vals.min))
        assert(r.getLong(6) == (if (vals.isEmpty) 0L else vals.max))
        assert(r.getLong(7) == vals.map(v => v * v).sum)
    }
  }

  test("parser fuzz: random and corrupted payloads never throw from either decoder") {
    import graft.functions.{PngDecode, PpmDecode, WavDecode}
    // pure random bytes
    val genRandom = for {
      n <- Gen.chooseNum(0, 200)
      bytes <- Gen.listOfN(n, Gen.chooseNum(-128, 127))
    } yield bytes.map(_.toByte).toArray
    samples(genRandom, 400, seed = 31L).foreach { b =>
      PpmDecode.stats(b); WavDecode.stats(b); PngDecode.stats(b): Unit // must not throw
    }
    // PNG: mutations + truncations of a VALID payload — chunk-length and
    // inflate bounds are where a decompressing parser can actually walk off
    val png = graft.operators.MediaOps.encodePng(3, 6,
      Array.tabulate(3 * 6 * 3)(i => ((i * 29 + 7) % 256).toByte))
    val genPngMut = for {
      pos <- Gen.chooseNum(0, png.length - 1)
      v <- Gen.chooseNum(-128, 127)
      cut <- Gen.chooseNum(0, png.length)
    } yield (pos, v.toByte, cut)
    samples(genPngMut, 400, seed = 41L).foreach { case (pos, v, cut) =>
      val mp = png.clone(); mp(pos) = v
      PngDecode.stats(mp); PngDecode.stats(png.take(cut)): Unit
    }
    // mutations of VALID payloads: byte flips and truncations — the
    // adversarial neighborhood where off-by-one parsers actually fail
    val wav = renderWav(8000, 1, 16, Seq(1, 2, 40000, 65535), Nil, dataFirst = false)
    val ppm = "P6\n# c\n3 2\n255\n".getBytes("US-ASCII") ++
      (0 until 18).map(_.toByte).toArray
    val genMut = for {
      pos <- Gen.chooseNum(0, wav.length - 1)
      v <- Gen.chooseNum(-128, 127)
      cut <- Gen.chooseNum(0, wav.length)
    } yield (pos, v.toByte, cut)
    samples(genMut, 400, seed = 37L).foreach { case (pos, v, cut) =>
      val mw = wav.clone(); mw(pos % wav.length) = v
      WavDecode.stats(mw); WavDecode.stats(wav.take(cut)): Unit
      val mp = ppm.clone(); mp(pos % ppm.length) = v
      PpmDecode.stats(mp); PpmDecode.stats(ppm.take(cut % ppm.length)): Unit
    }
  }

  test("blocklist scrub: idempotent, hit-free output, no-hit texts unchanged (random corpora)") {
    import spark.implicits._
    import graft.operators.TextOps
    // random word-salad over the fixture's vocabulary style, with the
    // blocklist terms injected at random positions so hits are plentiful
    val vocab = Seq("join", "hash", "row", "batch", "scan", "table", "value",
      "slowly", "leaky", "crashed") ++ TextOps.BlocklistTerms
    val genDoc = for {
      n <- Gen.chooseNum(1, 60)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val texts = samples(genDoc, 300, seed = 41L)
    val pat = "\\b(" + TextOps.BlocklistTerms.mkString("|") + ")\\b"
    val df = texts.toDF("text")
      .select(col("text"),
        regexp_replace(col("text"), pat, "[REDACTED]").as("s1"))
      .select(col("text"), col("s1"),
        regexp_replace(col("s1"), pat, "[REDACTED]").as("s2"),
        size(regexp_extract_all(col("s1"), lit(pat), lit(0))).as("h1"))
    df.collect().foreach { r =>
      val (text, s1, s2, h1) =
        (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))
      assert(h1 == 0, s"scrubbed text still hits the blocklist: $s1")
      assert(s1 == s2, "scrub is not idempotent")
      // word-boundary safety: superstring vocab words never get masked
      if (!pat.r.findFirstIn(text).isDefined) assert(s1 == text)
      assert(!TextOps.BlocklistTerms.exists(t =>
        s1.split(" ").contains(t)), s"bare term survived: $s1")
    }
  }

  test("PpmAHash: never throws on fuzz, tiling-invariant, flip-local (random rasters)") {
    val rnd = new scala.util.Random(20260815)
    def ppm(w: Int, h: Int, px: Array[Byte]): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    // pure fuzz never throws — null or a value, the C3 contract
    for (_ <- 1 to 300) {
      val junk = Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
      graft.functions.PpmAHash.hash(junk): Unit
    }
    for (_ <- 1 to 150) {
      val w = 1 + rnd.nextInt(8)
      val h = 1 + rnd.nextInt(8)
      val px = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val base = graft.functions.PpmAHash.hash(ppm(w, h, px))
      assert(base != null)
      // size-invariance: physically tiling the raster to fill >= 64 pixels
      // yields the SAME hash as the cyclic sampling of the small image
      val reps = math.max(1, (64 + w * h - 1) / (w * h))
      if (w * h * reps <= 64 && 64 % (w * h) == 0) {
        val tiled = ppm(w * h * reps, 1,
          Array.tabulate(w * h * reps * 3)(i => px(i % (w * h * 3))))
        assert(graft.functions.PpmAHash.hash(tiled) == base,
          s"tiling changed the hash for ${w}x$h reps=$reps")
      }
      // locality: for rasters big enough that one pixel barely moves the
      // MEAN (npx >= 32 => mean shift <= 765/32 lum), perturbing one pixel
      // flips its own <= 64/npx sample positions plus a few borderline
      // bits — near rasters stay near in Hamming. (Tiny rasters are
      // legitimately global: one pixel IS a big share of the mean.)
      if (w * h >= 32) {
        val p = rnd.nextInt(w * h)
        val mutated = px.clone()
        mutated(3 * p) = (mutated(3 * p) ^ 0x7f).toByte
        val m = graft.functions.PpmAHash.hash(ppm(w, h, mutated))
        val hamming = java.lang.Long.bitCount(base ^ m)
        assert(hamming <= 64 / (w * h) + 16, s"${w}x$h flip moved $hamming bits")
      }
    }
  }

  test("bootstrap thresholds: strictly increasing, inside the 24-bit domain, Poisson-mean-preserving") {
    val t = graft.operators.ScaleOps.BootCdf24
    assert(t == t.sorted && t.distinct == t)
    assert(t.head > 0 && t.last < (1L << 24))
    // the implied bucket probabilities approximate Poisson(1): mean within 2%
    val probs = (t.head +: t.sliding(2).map { case Seq(a, b) => b - a }.toSeq
      :+ ((1L << 24) - t.last)).map(_.toDouble / (1L << 24))
    val mean = probs.zipWithIndex.map { case (p, k) => p * k }.sum
    assert(math.abs(mean - 1.0) < 0.02, s"mean $mean")
  }

  /** Aggregation-order perturbation gate (VERDICT r8 #3): any query that
    * EMITS a rounding of a float sum must produce 6-dp-identical output
    * regardless of how Spark associates the partial aggregates. The
    * perturbation lever is the shuffle partition count — it changes which
    * rows share a pre-shuffle partial and the merge order of the partials,
    * i.e. exactly the association the IEEE sum is sensitive to. The r8
    * `xt_ewma_daily` defect (order-dependent ≤30-term double sum of ~10⁷
    * magnitude terms rounded at 6 dp) fails this gate pre-fix (observed:
    * 4 vs 13 partitions flips rows at sf0.01) and passes once the kernel
    * contributions are decimal-anchored; the gate keeps the whole class
    * from being reintroduced. Queries listed here are the representatives
    * of each rounded-emission family (decimal-anchored, exact-integer,
    * and bounded-term chains) — [[graft.DeterminismLint]] enforces the
    * anchoring discipline statically over the full tree.
    */
  private def assertOrderStable(name: String, dir: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    // two levers: shuffle partition count perturbs the reduce-side merge
    // order; input split size perturbs the scan partitions and therefore
    // the PRE-shuffle partial grouping (map-side combine association)
    def runAt(parts: String, splitBytes: String): Seq[String] = {
      val prevP = spark.conf.get("spark.sql.shuffle.partitions")
      val prevS = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
      try fn(spark, dir).collect().map(_.toString).sorted.toSeq
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevP)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevS)
      }
    }
    val a = runAt("4", "134217728")
    val b = runAt("13", "134217728")
    val c = runAt("4", "262144") // 256 KiB splits: many scan partitions
    for ((other, lever) <- Seq((b, "shuffle-partition"), (c, "input-split"))) {
      val diff = a.diff(other) ++ other.diff(a)
      assert(diff.isEmpty && a.size == other.size,
        s"$name drifts under $lever perturbation; ${diff.size} " +
          s"differing rows, e.g. ${diff.take(4).mkString("; ")}")
    }
  }

  test("aggregation-order perturbation: rounded emissions are partition-order-stable") {
    val dir = "/root/testdata/sf0.01"
    Seq(
      "xt_ewma_daily",        // the r8 defect: decimal-anchored kernel now
      "xt_seasonality_strength", // explicit-moment float chain, 6 dp emission
      "xa_weighted_median",   // bucket-refined histogram emission
      // r11 anchored log family (off the whitelist: DetLog chains quantized
      // to the LogScale grid, exact integer sums) — re-checked at 10x the
      // fixture magnitudes, where drift margins are thinnest
      "tx_token_entropy",
      "tx_dsir_weights",
      "tx_zipf_fit",
      "xt_psi_drift",
      "geo_adamic_adar",
      // the MG sketch's candidate SET is partition-order-dependent by
      // nature; the gate + exact confirm must make the OUTPUT invariant
      "tx_top_bigrams",
      // r10 anchored families (off the whitelist, so off the dynamic gate
      // below): one representative per anchored kernel — the CentroidQuant
      // mean-update (kmeans training + the semdedup consumer) and the
      // PcVecScale integer power iteration
      "sim_kmeans_centroids",
      "dd_semdedup",
      "sim_pca_power")
      .foreach(assertOrderStable(_, dir))
  }

  /** The DYNAMIC twin of each [[graft.DeterminismLint.Bounded]] whitelist
    * entry: the whitelist asserts (with a proof sketch) that the query's
    * rounded float sum cannot drift across partial-aggregate orders —
    * this test CHECKS that claim by rerunning every whitelisted query
    * under a different shuffle layout. Staged inputs are session-memoized,
    * so the perturbation exercises exactly the query-time accumulation the
    * proof is about. A failure here means a whitelist proof is wrong:
    * anchor the query, don't widen the whitelist.
    */
  test("aggregation-order perturbation: every lint-whitelisted emission holds its proof") {
    graft.DeterminismLint.Bounded.keys.toSeq.sorted
      .foreach(assertOrderStable(_, Sf))
  }

  test("DeterminismLint: flags rounded float sums (through aliases), passes anchored chains") {
    import spark.implicits._
    val df = Seq((1, 2.5), (1, 3.5), (2, 1.0)).toDF("k", "x")
    // direct: round(sum(double)) — the ewma defect shape
    val direct = df.groupBy("k").agg(round(sum(col("x")), 6).as("s"))
    assert(graft.DeterminismLint.check("bad_direct", direct).nonEmpty)
    // indirect: the round sits a projection away from the aggregate — the
    // alias expansion must trace it
    val indirect = df.groupBy("k").agg(sum(col("x")).as("s"))
      .select(col("k"), round(col("s") * 0.2, 6).as("e"))
    assert(graft.DeterminismLint.check("bad_indirect", indirect).nonEmpty)
    // anchored: the same chain over decimal is association-free — clean
    val anchored = df.groupBy("k")
      .agg(round(sum(col("x").cast("decimal(20,6)")), 6).as("s"))
    assert(graft.DeterminismLint.check("ok_decimal", anchored).isEmpty)
    // unrounded float sums are out of class (driver compares at %.9g)
    val unrounded = df.groupBy("k").agg(sum(col("x")).as("s"))
    assert(graft.DeterminismLint.check("ok_unrounded", unrounded).isEmpty)
    // whitelisted names short-circuit, and no whitelist entry is stale
    assert(graft.DeterminismLint.check("tx_source_js_drift", direct).isEmpty)
    // the r10-anchored centroid family and the r12-anchored search-score
    // family are OFF the whitelist: their names no longer short-circuit a
    // genuinely bad plan
    assert(graft.DeterminismLint.check("sim_kmeans_centroids", direct).nonEmpty)
    assert(graft.DeterminismLint.check("sim_hybrid_rrf", direct).nonEmpty)
    assert(graft.DeterminismLint.check("tx_bm25_search", direct).nonEmpty)
    graft.DeterminismLint.Bounded.keys.foreach(w =>
      assert(graft.SparkEntry.queries.contains(w), s"stale whitelist entry $w"))
  }

  /** The lint over the whole registry: every query is built at sf0.001
    * (analysis only; nothing runs beyond what its constructor stages) and
    * must pass [[graft.DeterminismLint.check]]. A constructor that throws
    * fails the test as well, naming the query. */
  test("DeterminismLint: every registered query builds and passes the lint") {
    val failures = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      scala.util.Try(graft.DeterminismLint.check(name, fn(spark, Sf))) match {
        case scala.util.Success(viol) =>
          if (viol.isEmpty) None else Some(s"$name: ${viol.mkString(" | ")}")
        case scala.util.Failure(e) => Some(s"$name: constructor threw $e")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("h24Slice: slice 0 equals h24, slices are the md5 bytes, domain-bounded") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val s = rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString
      assert(graft.functions.MinHashAgg.h24Slice(s, 0) ==
        graft.functions.MinHashAgg.h24(s))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      for (sl <- 0 to 4) {
        val v = graft.functions.MinHashAgg.h24Slice(s, sl)
        assert(v >= 0 && v < (1L << 24))
        val want = ((md(3 * sl) & 0xffL) << 16) |
          ((md(3 * sl + 1) & 0xffL) << 8) | (md(3 * sl + 2) & 0xffL)
        assert(v == want)
      }
    }
  }
}
