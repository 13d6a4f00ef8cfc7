package graft

import graft.functions.{VecDot, VectorExpressions}
import graft.operators.{MediaOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

class SimMediaSpec extends SparkSpec {

  test("VecDot: interpreted eval matches hand-computed dot (float, double, mixed)") {
    val af = Literal.create(Array(1.0f, 2.0f, 3.0f), ArrayType(FloatType))
    val bf = Literal.create(Array(4.0f, 5.0f, 6.0f), ArrayType(FloatType))
    assert(math.abs(VecDot(af, bf).eval(null).asInstanceOf[Double] - 32.0) < 1e-12)
    val ad = Literal.create(Array(1.0, 2.0, 3.0), ArrayType(DoubleType))
    val bd = Literal.create(Array(4.0, 5.0, 6.0), ArrayType(DoubleType))
    assert(math.abs(VecDot(ad, bd).eval(null).asInstanceOf[Double] - 32.0) < 1e-12)
    // mixed float·double — the SRP bucketing shape
    assert(math.abs(VecDot(af, bd).eval(null).asInstanceOf[Double] - 32.0) < 1e-12)
  }

  test("vec_dot registered function works through SQL/codegen path") {
    VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.5f, 2.0f))).toDF("a", "b")
    val viaExpr = df.select(expr("vec_dot(a, b)")).collect().head.getDouble(0)
    assert(math.abs(viaExpr - 0.5) < 1e-12)
    // codegen and interpreted agree on corpus data
    val e = Tables.embeddings(spark, Sf).limit(50)
    val cg = e.select(sum(expr("vec_dot(embedding, embedding)"))).collect().head.getDouble(0)
    val hof = e.select(sum(aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x))).collect().head.getDouble(0)
    assert(cg == hof) // bit-identical: same sequential accumulation
  }

  test("bruteForceTopK: k rows per query, self excluded, descending") {
    val rows = SimilarityOps.bruteForceTopK(spark, Sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == SimilarityOps.TopK)
      assert(!rs.exists(_.getAs[Long]("vec_id") == q))
      val cosines = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ivfTopK probes a subset: results within brute-force candidate set") {
    val bf = SimilarityOps.bruteForceTopK(spark, Sf)
      .select("query_id", "vec_id", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = SimilarityOps.ivfTopK(spark, Sf).collect()
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      // when an IVF result also appears in brute force, cosines agree exactly
      bf.get(key).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("kmeansPrunedTopK: partition-pruned scan, identical results to kmeansTopK") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val pruned = SimilarityOps.kmeansPrunedTopK(spark, Sf)
    val plan = pruned.queryExecution.executedPlan.toString
    // the layout scan must carry a non-empty partition filter on k
    assert(plan.linesIterator.exists(l =>
      l.contains("kmeans_layout") && l.contains("PartitionFilters: [") &&
        !l.replace(" ", "").contains("PartitionFilters:[]")),
      s"expected partition-pruned kmeans_layout scan in:\n$plan")
    // and pruning is purely physical: result set identical to the
    // join-based kmeansTopK
    val a = pruned.collect().map(_.toSeq).toSet
    val b = SimilarityOps.kmeansTopK(spark, Sf).collect().map(_.toSeq).toSet
    assert(a == b)
    // the probe set bounds the partitions read
    val nProbedKs = SimilarityOps.kmeansProbes(spark, Sf)
      .select("k").distinct().count()
    assert(nProbedKs <= SimilarityOps.kmeansKFor(spark, Sf))
  }

  test("quantizedTopK: int8 storage, high top-k agreement with the float path") {
    val qe = SimilarityOps.quantizedEmbeddings(spark, Sf)
    assert(qe.schema("qe").dataType.simpleString == "array<tinyint>")
    // quantized values live in the symmetric int8 range
    assert(qe.select(explode(col("qe")).as("v"))
      .where(col("v") > 127 || col("v") < -127).count() == 0)
    // ranking quality: per query, the quantized top-k overlaps the exact
    // float top-k on most slots (int8 cosine error ~1e-2 at dim 64)
    val exact = SimilarityOps.bruteForceTopK(spark, Sf)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.quantizedTopK(spark, Sf)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact intersect quant).size.toDouble / exact.size
    assert(overlap >= 0.6, s"quantized/exact top-k overlap too low: $overlap")
  }

  test("gramMatrix: upper-triangle cells equal a driver-side outer-product recompute") {
    val vecs = Tables.embeddings(spark, Sf)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val d = vecs.head.length
    val expect = Array.ofDim[Long](d, d)
    vecs.foreach { v =>
      val q = v.map(x => math.floor(x.toDouble * SimilarityOps.GramScale).toLong)
      for (i <- 0 until d; j <- i until d) expect(i)(j) += q(i) * q(j)
    }
    val got = SimilarityOps.gramMatrix(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == d * (d + 1) / 2) // full upper triangle, nothing missing
    assert(got.forall { case ((i, j), g) => expect(i.toInt)(j.toInt) == g })
    // diagonal is a sum of squares: strictly positive for non-zero data
    assert((0 until d).forall(i => got((i.toLong, i.toLong)) > 0))
  }

  test("gramMatrixUdaf: the GramAgg fold is cell-identical to the declarative form") {
    val decl = SimilarityOps.gramMatrix(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val udafForm = SimilarityOps.gramMatrixUdaf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(udafForm == decl)
    // the UDAF plan folds in place: no Generate (explode) before aggregation
    val plan = SimilarityOps.gramMatrixUdaf(spark, Sf)
      .queryExecution.executedPlan.toString
    val aggIdx = plan.indexOf("ObjectHashAggregate")
    assert(aggIdx >= 0, plan)
    assert(!plan.substring(aggIdx).contains("Generate"),
      "row expansion found below the aggregate:\n" + plan)
  }

  test("pqCodes: M tinyint codes per vector, codes in range, positive norms") {
    val codes = SimilarityOps.pqCodes(spark, Sf)
    assert(codes.schema("codes").dataType.simpleString == "array<tinyint>")
    assert(codes.where(size(col("codes")) =!= SimilarityOps.PqM).count() == 0)
    assert(codes.select(explode(col("codes")).as("c"))
      .where(col("c") < 0 || col("c") >= SimilarityOps.PqKs).count() == 0)
    assert(codes.where(col("rn") <= 0).count() == 0)
    assert(codes.count() == Tables.embeddings(spark, Sf).count())
  }

  test("pqTopK: ADC ranking recovers most of the exact top-k; single shuffle") {
    val pq = SimilarityOps.pqTopK(spark, Sf)
    // corpus side is the staged byte-code parquet scan joined to a
    // broadcast LUT — never shuffled for scoring (the LUT comes from the
    // driver-held codebooks, so the plan carries no training lineage)
    val p = pq.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), "LUT should broadcast into the codes scan")
    assert(p.contains("pq_codes"), "scoring should read the staged codes table")
    val rows = pq.collect()
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.values.forall(_.length == SimilarityOps.TopK))
    // ADC cosines live in a sane band
    assert(rows.forall { r =>
      val c = r.getAs[Double]("adc_cosine"); c >= -1.05 && c <= 1.05
    })
    // Retrieval quality: this corpus has a tight cosine distribution (true
    // top-5 mean ≈ 0.32, random-pair mean ≈ 0), so identity-recall is the
    // wrong bar for an 8×16 codebook — assert the standard ANN measure
    // instead: the exact cosine of what PQ retrieves recovers most of the
    // attainable signal above random.
    val embs = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = SimilarityOps.bruteForceTopK(spark, Sf).collect()
    val trueMean = exact.map(_.getDouble(2)).sum / exact.length
    val gotMean = rows.map(r => cos(embs(r.getLong(0)), embs(r.getLong(1)))).sum / rows.length
    assert(gotMean >= 0.5 * trueMean,
      s"pq retrieved-set mean cosine $gotMean < half of true top-k mean $trueMean")
  }

  test("hybridRrf: fused score recomputes from the legs' ranks; order and bounds hold") {
    val rows = SimilarityOps.hybridRrf(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= TextOps.SearchTopK)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    def rank(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val scores = rows.map { r =>
      val (rl, rv) = (rank(r, 1), rank(r, 2))
      assert(rl.nonEmpty || rv.nonEmpty) // every fused doc came from a leg
      Seq(rl, rv).flatten.foreach(k =>
        assert(k >= 1 && k <= SimilarityOps.HybridPoolK))
      val expect = rl.map(k => 1.0 / (SimilarityOps.RrfK + k)).getOrElse(0.0) +
        rv.map(k => 1.0 / (SimilarityOps.RrfK + k)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expect) < 1e-6)
      expect
    }
    // output is the fused top-k: non-increasing scores
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // both leg rank-1 docs must appear in the fused top-k
    val lex1 = rows.find(r => rank(r, 1).contains(1L))
    val vec1 = rows.find(r => rank(r, 2).contains(1L))
    assert(lex1.nonEmpty && vec1.nonEmpty)
  }

  test("media payloads carry binary + metadata; frames tile the text") {
    val p = MediaOps.payloads(spark, Sf)
    assert(p.schema("payload").dataType.typeName == "binary")
    val doc = Tables.documents(spark, Sf).where(col("doc_id") === 0)
      .select("text").collect().head.getString(0)
    val f = MediaOps.frames(spark, Sf).where(col("doc_id") === 0)
      .orderBy("frame_no").collect().map(_.getAs[String]("frame"))
    assert(f.mkString == doc)
    val feats = MediaOps.decodeStub(spark, Sf).collect()
    feats.foreach(m => Seq(m.f0, m.f1, m.f2, m.f3)
      .foreach(v => assert(v >= 0.0 && v < 1.0)))
  }

  test("decodeFeatures (codegen'd query form) is value-identical to the mapPartitions stub") {
    val stub = MediaOps.decodeStub(spark, Sf).collect()
      .map(m => m.doc_id -> (m.f0, m.f1, m.f2, m.f3)).toMap
    val exprForm = MediaOps.decodeFeatures(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(exprForm == stub)
  }

  test("PpmDecode parses a hand-built PPM (with spec comments); malformed payloads decode to null") {
    import graft.functions.PpmDecode
    // 2x2 image, one '#' comment, pixel bytes 0..11
    val px = (0 until 12).map(_.toByte).toArray
    val ppm = "P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val r = PpmDecode.stats(ppm)
    assert(r != null)
    assert(Seq(r.getLong(0), r.getLong(1), r.getLong(2)) == Seq(2L, 2L, 255L))
    // channel c holds bytes {c, c+3, c+6, c+9}
    assert(r.getLong(3) == 0L + 3 + 6 + 9 && r.getLong(4) == 0L && r.getLong(5) == 9L)  // r
    assert(r.getLong(6) == 1L + 4 + 7 + 10 && r.getLong(7) == 1L && r.getLong(8) == 10L) // g
    assert(r.getLong(9) == 2L + 5 + 8 + 11 && r.getLong(10) == 2L && r.getLong(11) == 11L) // b
    assert(PpmDecode.stats("P5\n2 2\n255\n".getBytes ++ px) == null) // wrong magic
    assert(PpmDecode.stats("P6\n4 4\n255\n".getBytes ++ px) == null) // truncated raster
    assert(PpmDecode.stats(Array.emptyByteArray) == null)
  }

  test("ppmDecode: real header parse over rendered payloads matches a JVM-side recompute") {
    val payloads = MediaOps.ppmPayloads(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(payloads.nonEmpty)
    val decoded = MediaOps.ppmDecode(spark, Sf).collect()
    assert(decoded.length == payloads.size)
    decoded.foreach { r =>
      val bytes = payloads(r.getLong(0))
      // recompute from the raw payload with an independent local parse
      val lines = new String(bytes, "US-ASCII").split("\n")
      val Array(w, h) = lines(1).split(" ").map(_.toInt): @unchecked
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == 255L)
      val raster = bytes.takeRight(w * h * 3)
      val byCh = raster.zipWithIndex.groupBy(_._2 % 3)
        .view.mapValues(_.map(p => (p._1 & 0xff).toLong)).toMap
      assert(r.getLong(4) == byCh(0).sum && r.getLong(5) == byCh(0).min && r.getLong(6) == byCh(0).max)
      assert(r.getLong(7) == byCh(1).sum && r.getLong(8) == byCh(1).min && r.getLong(9) == byCh(1).max)
      assert(r.getLong(10) == byCh(2).sum && r.getLong(11) == byCh(2).min && r.getLong(12) == byCh(2).max)
    }
  }

  test("decode pipelines fuse: no exchange, no serialization break, codegen'd expressions") {
    // render → parse → stats must be ONE narrow map over the documents scan
    // for both codecs: any Exchange or DeserializeToObject in the plan means
    // the decode fell out of the fused scan pipeline (UDF boxing / typed
    // serialization — the costs the native expressions exist to avoid)
    for (df <- Seq(MediaOps.ppmDecode(spark, Sf), MediaOps.wavDecode(spark, Sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"decode plan shuffles:\n$plan")
      assert(!plan.contains("DeserializeToObject"),
        s"decode plan breaks into typed serialization:\n$plan")
      // "*(1)" is the WholeStageCodegen stage marker in simpleString: the
      // whole render→parse→stats chain sits in codegen stage 1 on the scan
      assert(plan.contains("*(1) Project"), s"decode plan not codegen'd:\n$plan")
      assert(!plan.contains("*(2)"), s"decode plan split into two codegen stages:\n$plan")
    }
  }

  test("PngDecode inverts encodePng across all five filter types; malformed payloads decode to null") {
    import graft.functions.PngDecode
    // 6 rows: filter types 0,1,2,3,4,0 all exercised; 2x6 RGB
    val w = 2; val h = 6
    val raster = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = graft.operators.MediaOps.encodePng(w, h, raster)
    val r = PngDecode.stats(png)
    assert(r != null, "valid PNG decoded to null")
    assert(Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      Seq(w.toLong, h.toLong, 8L, 2L))
    val byCh = raster.zipWithIndex.groupBy(_._2 % 3)
      .view.mapValues(_.map(p => (p._1 & 0xff).toLong)).toMap
    for (c <- 0 until 3) {
      assert(r.getLong(4 + 3 * c) == byCh(c).sum, s"channel $c sum")
      assert(r.getLong(5 + 3 * c) == byCh(c).min && r.getLong(6 + 3 * c) == byCh(c).max)
    }
    // independent cross-check: the JDK's own ImageIO PNG reader must see
    // the identical pixels (proves the encoder writes REAL spec-compliant
    // PNGs, not a private format our decoder happens to invert)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    val viaImageIO = for (y <- 0 until h; x <- 0 until w) yield {
      val rgb = img.getRGB(x, y)
      Seq(((rgb >> 16) & 0xff).toLong, ((rgb >> 8) & 0xff).toLong, (rgb & 0xff).toLong)
    }
    assert(viaImageIO.flatten.sum == (0 until 3).map(byCh(_).sum).sum)
    // corruption: flip one IDAT byte -> CRC mismatch -> null
    val corrupt = png.clone(); corrupt(png.length - 20) = (corrupt(png.length - 20) ^ 0x5a).toByte
    assert(PngDecode.stats(corrupt) == null)
    assert(PngDecode.stats(png.take(png.length - 1)) == null) // truncated
    assert(PngDecode.stats("notapng".getBytes) == null)
    assert(PngDecode.stats(Array.emptyByteArray) == null)
    // adversarial IHDR whose h*(1+3w) wraps Int: must null out, not emit
    // garbage stats against a wrapped allocation (CRC restamped so the
    // guard itself is what rejects it)
    val big = png.clone()
    val ihdrData = 16 // offset of IHDR width field (8 sig + 4 len + 4 tag)
    java.nio.ByteBuffer.wrap(big, ihdrData, 8)
      .putInt(0x10000000).putInt(0x10000000): Unit
    val crc = new java.util.zip.CRC32()
    crc.update(big, 12, 17) // tag + 13 data bytes
    java.nio.ByteBuffer.wrap(big, 29, 4).putInt(crc.getValue.toInt): Unit
    assert(PngDecode.stats(big) == null)
  }

  test("pngDecode: staged real PNGs decode back to the raster rule; plan is one codegen'd map") {
    val decoded = MediaOps.pngDecode(spark, Sf)
    val plan = decoded.queryExecution.executedPlan.toString
    // decode over the staged parquet payloads: a single codegen'd narrow
    // projection on the scan — no exchange, no typed serialization
    assert(!plan.contains("Exchange"), s"png decode plan shuffles:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"typed serialization:\n$plan")
    assert(plan.contains("*(1) Project") && !plan.contains("*(2)"),
      s"png decode not one codegen stage:\n$plan")
    val rows = decoded.collect()
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val digest = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      digest.reset()
      val hex = digest.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val hgt = (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 8 + 1).toInt
      val raster = (hex * 6).substring(0, 24 * hgt).getBytes("US-ASCII")
      assert(r.getLong(1) == 8L && r.getLong(2) == hgt.toLong)
      assert(r.getLong(3) == 8L && r.getLong(4) == 2L)
      val byCh = raster.zipWithIndex.groupBy(_._2 % 3)
        .view.mapValues(_.map(p => (p._1 & 0xff).toLong)).toMap
      for (c <- 0 until 3) {
        assert(r.getLong(5 + 3 * c) == byCh(c).sum)
        assert(r.getLong(6 + 3 * c) == byCh(c).min && r.getLong(7 + 3 * c) == byCh(c).max)
      }
    }
  }

  test("WavDecode chunk-walks a hand-built RIFF (extra chunk, odd-size padding, 8 and 16 bit)") {
    import graft.functions.WavDecode
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le(body.length, 4) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def fmt(code: Int, ch: Int, rate: Long, bits: Int): Array[Byte] =
      le(code, 2) ++ le(ch, 2) ++ le(rate, 4) ++ le(rate * ch * bits / 8, 4) ++
        le(ch * bits / 8, 2) ++ le(bits, 2)
    def wav(chunks: Array[Byte]*): Array[Byte] = {
      val body = "WAVE".getBytes("US-ASCII") ++ chunks.flatten
      "RIFF".getBytes("US-ASCII") ++ le(body.length, 4) ++ body
    }
    // 8-bit: an odd-sized unknown chunk BEFORE fmt exercises skip + padding
    val w8 = wav(chunk("LIST", Array(1, 2, 3).map(_.toByte)),
      chunk("fmt ", fmt(1, 1, 8000, 8)),
      chunk("data", Array(0, 10, 255).map(_.toByte)))
    val r8 = WavDecode.stats(w8)
    assert(r8 != null)
    assert((0 until 8).map(r8.getLong) ==
      Seq(8000L, 1L, 8L, 3L, 0L + 10 + 255, 0L, 255L, 100L + 255 * 255))
    // 16-bit signed LE, data chunk FIRST (order independence)
    val w16 = wav(chunk("data", le(-2 & 0xffff, 2) ++ le(300, 2)),
      chunk("fmt ", fmt(1, 2, 44100, 16)))
    val r16 = WavDecode.stats(w16)
    assert(r16 != null)
    assert((0 until 8).map(r16.getLong) ==
      Seq(44100L, 2L, 16L, 2L, -2L + 300, -2L, 300L, 4L + 90000))
    assert(WavDecode.stats("RIFX1234WAVE".getBytes) == null)     // wrong magic
    assert(WavDecode.stats(wav(chunk("fmt ", fmt(85, 1, 8000, 8)),
      chunk("data", Array(1.toByte)))) == null)                  // non-PCM (mp3 code)
    assert(WavDecode.stats(wav(chunk("fmt ", fmt(1, 1, 8000, 16)),
      chunk("data", Array(1.toByte)))) == null)                  // odd 16-bit data len
    assert(WavDecode.stats(w8.take(20)) == null)                 // truncated chunk
  }

  test("wavDecode: real RIFF parse over rendered payloads matches a JVM-side recompute") {
    val payloads = MediaOps.wavPayloads(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(payloads.nonEmpty)
    val decoded = MediaOps.wavDecode(spark, Sf).collect()
    assert(decoded.length == payloads.size)
    decoded.foreach { r =>
      val bytes = payloads(r.getLong(0))
      // header is real binary: 44-byte canonical PCM layout
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 16), "US-ASCII") == "WAVEfmt ")
      val n = bytes.length - 44
      val samples = bytes.takeRight(n).map(b => (b & 0xff).toLong)
      assert(r.getLong(1) == MediaOps.WavRate && r.getLong(2) == 1L && r.getLong(3) == 8L)
      assert(r.getLong(4) == n.toLong && n % 16 == 0 && n >= 16 && n <= 256)
      assert(r.getLong(5) == samples.sum && r.getLong(6) == samples.min)
      assert(r.getLong(7) == samples.max && r.getLong(8) == samples.map(v => v * v).sum)
    }
  }

  test("FLAC wire format is pinned: crafted 4-sample stream encodes to the hand-derived bytes") {
    // Derived independently from the xiph spec (RFC 9639) for samples
    // [3, -2, 5, 0] at blockSize 4 — one frame, fixed order 0, zigzag
    // residuals [6, 3, 10, 0], Rice parameter 2 (mean rule):
    //   fLaC | STREAMINFO(0x80, len 34: min/max block 4, rate 8000, mono,
    //   16 bps, total 4, md5 0) | frame: sync 0xfff8, 0x70 (16-bit-1
    //   blocksize, rate-from-streaminfo), 0x08 (mono, 16-bit), frame#0,
    //   blocksize-1=0x0003, CRC-8 0x13 | subframe 0x10 (fixed order 0) |
    //   0x00 (method 00, porder 0) + rice nibble + residual bits
    //   10|0110|111|00110|100 → 0x9b 0x9a, pad 0x00 | CRC-16 0x7662.
    // Pinning exact bytes means encoder and decoder cannot share a
    // misreading of the spec (the QOI discipline).
    val expected = Array(
      0x66, 0x4c, 0x61, 0x43, 0x80, 0x00, 0x00, 0x22, 0x00, 0x04, 0x00,
      0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0xf4, 0x00, 0xf0,
      0x00, 0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xf8,
      0x70, 0x08, 0x00, 0x00, 0x03, 0x13, 0x10, 0x00, 0x9b, 0x9a, 0x00,
      0x76, 0x62).map(_.toByte)
    val got = MediaOps.encodeFlac(Array(3, -2, 5, 0), 4)
    assert(got.toSeq == expected.toSeq,
      s"wire mismatch:\n got ${got.map("%02x".format(_)).mkString(" ")}\nwant ${expected.map("%02x".format(_)).mkString(" ")}")
    // and the decoder inverts it exactly (lossless)
    val s = graft.functions.FlacDecode.stats(expected)
    assert(s != null)
    val vals = (0 until 9).map(s.getLong)
    assert(vals == Seq(8000L, 1L, 16L, 4L, 1L, 6L, -2L, 5L, 38L))
  }

  test("FLAC LPC wire format is pinned: the hand-derived order-2 frame decodes exactly") {
    // Derived independently from RFC 9639 (via a python bit packer, not the
    // Scala encoder — the QOI discipline) for samples [3, -2, 5, 0] at
    // blockSize 4: same STREAMINFO/frame header as the FIXED pin (CRC-8
    // 0x13 — the header is subframe-agnostic), then subframe byte 0x42 =
    // 0|100001|0 (LPC order 2, no wasted bits), 16-bit warmup 0x0003
    // 0xfffe, coefficient header 0011|00001|0011|1111 (precision-1=3,
    // shift=1, coefs [3, -1]), residual block 00|0000|0100 (rice, porder 0,
    // param 4) and the two rice codes for residuals [10, -8]:
    //   k=2: pred = (3·(-2) − 3) >> 1 = −5 → resid 10, zigzag 20 → 01|0100
    //   k=3: pred = (3·5 − (−2)) >> 1 = 8 → resid −8, zigzag 15 → 1|1111
    // padding to byte, CRC-16 0xf8d3.
    val expected = Array(
      0x66, 0x4c, 0x61, 0x43, 0x80, 0x00, 0x00, 0x22, 0x00, 0x04, 0x00,
      0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0xf4, 0x00, 0xf0,
      0x00, 0x00, 0x00, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0xf8,
      0x70, 0x08, 0x00, 0x00, 0x03, 0x13, 0x42, 0x00, 0x03, 0xff, 0xfe,
      0x30, 0x9f, 0x80, 0x8a, 0x7c, 0xf8, 0xd3).map(_.toByte)
    val s = graft.functions.FlacDecode.stats(expected)
    assert(s != null, "hand-derived LPC frame rejected")
    assert((0 until 9).map(s.getLong) ==
      Seq(8000L, 1L, 16L, 4L, 1L, 6L, -2L, 5L, 38L))
    // the fixture encoder emits the same wire for these samples when its
    // mode cycle lands on LPC: a 192-sample stream (ladder step 3) leads
    // with an LPC subframe and must invert losslessly
    val samples = Array.tabulate(192)(i => ((i * 73) % 900) - 450)
    val enc = MediaOps.encodeFlac(samples, MediaOps.FlacBlockSize)
    // subframe type byte of frame 0 sits after the 8-byte header at
    // offset 42 (4 magic + 38 streaminfo): 0x42 = LPC order 2
    assert((enc(50) & 0xff) == 0x42, f"subframe byte 0x${enc(50) & 0xff}%02x")
    val es = graft.functions.FlacDecode.stats(enc)
    assert(es != null, "encoder LPC stream rejected")
    assert(es.getLong(3) == 192L && es.getLong(5) == samples.map(_.toLong).sum &&
      es.getLong(8) == samples.map(v => v.toLong * v).sum)
  }

  test("FlacDecode: corruption nulls — bit flip (CRC-16), header flip (CRC-8), truncation, coefficient bits") {
    val stream = MediaOps.encodeFlac(Array.tabulate(300)(i => (i * 37) % 1000 - 500),
      MediaOps.FlacBlockSize)
    assert(graft.functions.FlacDecode.stats(stream) != null)
    // flip one residual bit in the last frame body: frame CRC-16 must veto
    val flip = stream.clone()
    flip(flip.length - 5) = (flip(flip.length - 5) ^ 0x10).toByte
    assert(graft.functions.FlacDecode.stats(flip) == null)
    // flip a frame-header bit (blocksize field): CRC-8 must veto before any
    // sample is decoded
    val hdrFlip = stream.clone()
    hdrFlip(46) = (hdrFlip(46) ^ 0x01).toByte // inside frame 0's header
    assert(graft.functions.FlacDecode.stats(hdrFlip) == null)
    // truncation mid-frame
    assert(graft.functions.FlacDecode.stats(stream.take(stream.length - 3)) == null)
    // LPC coefficient bits are CRC-protected like everything else (r11):
    // a 192-sample stream leads with the LPC(2) subframe — its quantized
    // coefficient header occupies the 17 bits after the 2x16-bit warmup,
    // i.e. bytes 55-57. Flipping one coefficient bit must null the decode
    // (the CRC-16 veto), never return silently re-predicted samples.
    val lpcStream = MediaOps.encodeFlac(
      Array.tabulate(192)(i => ((i * 73) % 900) - 450), MediaOps.FlacBlockSize)
    assert((lpcStream(50) & 0xff) == 0x42) // LPC order 2 subframe leads
    assert(graft.functions.FlacDecode.stats(lpcStream) != null)
    val coefFlip = lpcStream.clone()
    coefFlip(56) = (coefFlip(56) ^ 0x08).toByte
    assert(graft.functions.FlacDecode.stats(coefFlip) == null)
    // a reserved subframe type (01xxxx band) still rejects loudly even
    // with both CRCs restamped, so ONLY the type check can be the rejector
    val rsv = stream.clone()
    val f0 = 42 // frame 0 offset (4 magic + 38 streaminfo)
    assert((rsv(f0) & 0xff) == 0xff && (rsv(f0 + 8) & 0xff) == 0x10)
    rsv(f0 + 8) = 0x20.toByte // type 010000: reserved
    val f1 = (f0 + 9 until rsv.length - 1).find(i =>
      (rsv(i) & 0xff) == 0xff && (rsv(i + 1) & 0xf8) == 0xf8).get
    val c = graft.functions.FlacDecode.crc16(rsv, f0, f1 - 2)
    rsv(f1 - 2) = ((c >> 8) & 0xff).toByte
    rsv(f1 - 1) = (c & 0xff).toByte
    assert(graft.functions.FlacDecode.stats(rsv) == null)
  }

  test("FlacDecode: generic-path streams the fixture encoder never emits decode per spec") {
    // An INDEPENDENT test-local bit packer (not MediaOps' BitWriter): these
    // streams exercise decoder branches the fixture encoder never takes —
    // constant/verbatim subframes, the static blocksize/rate code tables,
    // rice2 (5-bit) parameters, partition order > 0, the raw escape,
    // wasted bits, and 2-channel independent frames — each checked against
    // driver-computed stats, so the branches are covered, not dead code.
    class W {
      val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
      def b(v: Long, n: Int): Unit =
        (n - 1 to 0 by -1).foreach(i => bits += ((v >>> i) & 1L).toInt)
      def align(): Unit = while (bits.size % 8 != 0) bits += 0
      def bytes: Array[Byte] = {
        align()
        bits.grouped(8).map(g =>
          g.foldLeft(0)((a, x) => (a << 1) | x).toByte).toArray
      }
    }
    def streaminfo(w: W, bs: Int, ch: Int, bps: Int, total: Long): Unit = {
      w.b(0x80, 8); w.b(34, 24)
      w.b(bs.toLong, 16); w.b(bs.toLong, 16); w.b(0, 24); w.b(0, 24)
      w.b(8000, 20); w.b(ch.toLong - 1, 3); w.b(bps.toLong - 1, 5)
      w.b(total, 36)
      (1 to 16).foreach(_ => w.b(0, 8))
    }
    // every test stream is one 38-byte STREAMINFO block then one frame:
    // both CRCs cover ONLY the frame, from this offset
    val FrameStart = 38
    def frameHeader(w: W, bsCode: Int, srCode: Int, chCode: Int,
                    szCode: Int, explicitBsMinus1: Option[Int]): Unit = {
      w.b(0x3ffe, 14); w.b(0, 1); w.b(0, 1)
      w.b(bsCode.toLong, 4); w.b(srCode.toLong, 4)
      w.b(chCode.toLong, 4); w.b(szCode.toLong, 3); w.b(0, 1)
      w.b(0, 8) // frame number 0
      explicitBsMinus1.foreach(v => w.b(v.toLong, 16))
      val h = w.bytes // aligned here by construction
      w.b(graft.functions.FlacDecode.crc8(h, FrameStart, h.length).toLong, 8)
    }
    def sealFrame(w: W): Array[Byte] = {
      w.align()
      val all = w.bytes
      val c = graft.functions.FlacDecode.crc16(all, FrameStart, all.length)
      w.b(c.toLong, 16)
      w.bytes
    }
    def decode(bytes: Array[Byte]): Seq[Long] = {
      val r = graft.functions.FlacDecode.stats(Array[Byte]('f', 'L', 'a', 'C') ++ bytes)
      assert(r != null, "stream rejected")
      (0 until 9).map(r.getLong)
    }

    // (a) CONSTANT subframe, static blocksize code 1 (=192), rate code 4
    // (=8000 from the table, not STREAMINFO)
    locally {
      val w = new W
      streaminfo(w, 192, 1, 16, 192)
      frameHeader(w, 1, 4, 0, 4, None)
      w.b(0, 1); w.b(0, 6); w.b(0, 1) // constant
      w.b((-5L) & 0xffff, 16)
      assert(decode(sealFrame(w)) ==
        Seq(8000L, 1L, 16L, 192L, 1L, -5L * 192, -5L, -5L, 25L * 192))
    }
    // (b) VERBATIM subframe with WASTED bits: stored at 14 bps, shifted <<2
    locally {
      val vals = Seq(3L, -7L, 100L, 0L)
      val w = new W
      streaminfo(w, 4, 1, 16, 4)
      frameHeader(w, 7, 0, 0, 4, Some(3))
      w.b(0, 1); w.b(1, 6) // verbatim
      w.b(1, 1); w.b(1, 2) // wasted flag, unary "01" -> wasted = 2
      vals.foreach(v => w.b(v & 0x3fff, 14))
      val out = vals.map(_ << 2)
      assert(decode(sealFrame(w)) ==
        Seq(8000L, 1L, 16L, 4L, 1L, out.sum, out.min, out.max,
          out.map(v => v * v).sum))
    }
    // (c) FIXED order 4, rice2 (5-bit params), partition order 1, second
    // partition ESCAPED to 6-bit raw residuals
    locally {
      val samples = (0 until 8).map(i => (i * i * 3 - 20).toLong) // order-4 poly-ish
      def fix4(s: Seq[Long], k: Int): Long =
        s(k) - 4 * s(k - 1) + 6 * s(k - 2) - 4 * s(k - 3) + s(k - 4)
      val resid = (4 until 8).map(fix4(samples, _))
      val w = new W
      streaminfo(w, 8, 1, 16, 8)
      frameHeader(w, 7, 0, 0, 4, Some(7))
      w.b(0, 1); w.b(12, 6); w.b(0, 1) // fixed order 4
      samples.take(4).foreach(v => w.b(v & 0xffff, 16))
      w.b(1, 2)  // method 01: rice2
      w.b(1, 4)  // partition order 1 -> 2 partitions of 8/2 = 4
      // partition 0 holds 4 - order = 0 residuals
      w.b(3, 5)  // its (unused) parameter
      // partition 1: escape (31), raw width 6
      w.b(31, 5); w.b(6, 5)
      resid.foreach(v => w.b(v & 0x3f, 6))
      assert(resid.forall(v => v >= -32 && v <= 31), s"test design: $resid")
      assert(decode(sealFrame(w)) ==
        Seq(8000L, 1L, 16L, 8L, 1L, samples.sum, samples.min, samples.max,
          samples.map(v => v * v).sum))
    }
    // (d) two INDEPENDENT channels (chCode 1), one fixed-order-1 subframe
    // each, rice with q > 0 unary paths
    locally {
      val chA = Seq(10L, 13L, 9L, 9L)
      val chB = Seq(-4L, -4L, 2L, -1L)
      def zig(r: Long): Long = if (r >= 0) 2 * r else -2 * r - 1
      val w = new W
      streaminfo(w, 4, 2, 16, 4)
      frameHeader(w, 7, 0, 1, 4, Some(3))
      for (chs <- Seq(chA, chB)) {
        w.b(0, 1); w.b(9, 6); w.b(0, 1) // fixed order 1
        w.b(chs.head & 0xffff, 16)
        w.b(0, 2); w.b(0, 4); w.b(1, 4) // rice 4-bit, porder 0, k=1
        (1 until 4).map(i => zig(chs(i) - chs(i - 1))).foreach { u =>
          (1L to (u >>> 1)).foreach(_ => w.b(0, 1)); w.b(1, 1)
          w.b(u & 1, 1)
        }
      }
      val all = chA ++ chB
      assert(decode(sealFrame(w)) ==
        Seq(8000L, 2L, 16L, 4L, 1L, all.sum, all.min, all.max,
          all.map(v => v * v).sum))
    }
    // (e) rejections: a STREAMINFO/frame mismatch (declared total != decoded)
    locally {
      val w = new W
      streaminfo(w, 192, 1, 16, 500) // claims 500 samples
      frameHeader(w, 1, 4, 0, 4, None)
      w.b(0, 1); w.b(0, 6); w.b(0, 1); w.b(7, 16)
      val full = Array[Byte]('f', 'L', 'a', 'C') ++ sealFrame(w)
      assert(graft.functions.FlacDecode.stats(full) == null)
    }
    // (f) LPC shapes the fixture encoder never emits (r11): order 3 with a
    // NEGATIVE coefficient at 5-bit precision and shift 0 — reconstruction
    // is the raw dot product, no rounding
    locally {
      val samples = Seq(100L, -30L, 7L, 55L, -2L, 11L, 40L, -9L)
      val coefs = Seq(2L, -3L, 1L) // pred = 2·s[k-1] − 3·s[k-2] + s[k-3]
      def pred(k: Int): Long =
        coefs.zipWithIndex.map { case (c, j) => c * samples(k - 1 - j) }.sum
      val resid = (3 until 8).map(k => samples(k) - pred(k))
      def zig(r: Long): Long = if (r >= 0) 2 * r else -2 * r - 1
      val w = new W
      streaminfo(w, 8, 1, 16, 8)
      frameHeader(w, 7, 0, 0, 4, Some(7))
      w.b(0, 1); w.b(32 + 2, 6); w.b(0, 1) // LPC order 3 (`1xxxxx`=order-1)
      samples.take(3).foreach(v => w.b(v & 0xffff, 16))
      w.b(4, 4) // precision-1 = 4 -> 5-bit signed coefficients
      w.b(0, 5) // shift 0
      coefs.foreach(c => w.b(c & 0x1f, 5))
      w.b(0, 2); w.b(0, 4) // rice 4-bit, partition order 0
      val k = 5 // rice parameter wide enough for these residuals
      w.b(k.toLong, 4)
      resid.map(zig).foreach { u =>
        (1L to (u >>> k)).foreach(_ => w.b(0, 1)); w.b(1, 1)
        w.b(u & ((1L << k) - 1), k)
      }
      assert(decode(sealFrame(w)) ==
        Seq(8000L, 1L, 16L, 8L, 1L, samples.sum, samples.min, samples.max,
          samples.map(v => v * v).sum))
    }
    // (g) LPC rejections: reserved coefficient precision 0b1111, and a
    // negative quantization shift (forbidden by RFC 9639) — both must
    // reject even though the CRCs are valid
    for (badHdr <- Seq((15L, 0L), (3L, 0x1fL /* -1 in 5-bit */))) {
      val w = new W
      streaminfo(w, 4, 1, 16, 4)
      frameHeader(w, 7, 0, 0, 4, Some(3))
      w.b(0, 1); w.b(32, 6); w.b(0, 1) // LPC order 1
      w.b(7L & 0xffff, 16)             // warmup
      w.b(badHdr._1, 4); w.b(badHdr._2, 5)
      w.b(1L & 0xf, 4)                 // one 4-bit coefficient
      w.b(0, 2); w.b(0, 4); w.b(1, 4)  // rice header
      (1 to 3).foreach(_ => { w.b(1, 1); w.b(0, 1) }) // residuals 0
      val full = Array[Byte]('f', 'L', 'a', 'C') ++ sealFrame(w)
      assert(graft.functions.FlacDecode.stats(full) == null,
        s"accepted invalid LPC header $badHdr")
    }
  }

  test("flacDecode: staged payloads decode to the exact PCM-rule stats (lossless inversion)") {
    val got = MediaOps.flacDecode(spark, Sf).collect()
      .map(r => r.getLong(0) -> (1 to 9).map(i => r.getLong(i))).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
    assert(got.size == docs.length)
    docs.foreach { r =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getString(1).getBytes("UTF-8")).map("%02x".format(_)).mkString
      val n = (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 8 + 1).toInt * 64
      val samples = (hex * 16).substring(0, n).map(c => ((c.toInt - 80) * 257).toLong)
      val frames = (n + MediaOps.FlacBlockSize - 1) / MediaOps.FlacBlockSize
      val expect = Seq(8000L, 1L, 16L, n.toLong, frames.toLong,
        samples.sum, samples.min, samples.max, samples.map(v => v * v).sum)
      assert(got(r.getLong(0)) == expect, s"doc ${r.getLong(0)}")
    }
  }

  // ---- gzip / DEFLATE (r11: the sixth codec, the first Huffman one) ----

  /** LSB-first bit writer for hand-crafting DEFLATE streams in specs —
    * deliberately independent of the MediaOps encoder's writer. */
  private final class DefBits {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nb = 0
    def bit(b: Int): Unit = {
      cur |= (b & 1) << nb; nb += 1
      if (nb == 8) { out += cur.toByte; cur = 0; nb = 0 }
    }
    def field(v: Int, n: Int): Unit = (0 until n).foreach(k => bit((v >> k) & 1))
    def code(v: Int, n: Int): Unit = (n - 1 to 0 by -1).foreach(k => bit((v >> k) & 1))
    def bytes: Array[Byte] = { while (nb != 0) bit(0); out.toArray }
  }

  test("DEFLATE wire format is pinned: hand-derived fixed-Huffman and stored streams") {
    // fixed-Huffman: BFINAL=1 BTYPE=01, literals 'a' 'b' 'c' (codes
    // 0x91/0x92/0x93, 8 bits), length 6 (symbol 260, 7-bit code 0000100),
    // distance 3 (code 2, 5-bit 00010), end-of-block (7-bit 0000000) —
    // 46 bits hand-packed LSB-first into exactly these six bytes
    val fixedPin = Array(0x4b, 0x4c, 0x4a, 0x86, 0x20, 0x00).map(_.toByte)
    val (out1, end1) = graft.functions.Inflate.raw(fixedPin, 0, 1 << 16)
    assert(new String(out1, "US-ASCII") == "abcabcabc")
    assert(end1 == 6)
    // the JDK agrees the pinned bytes mean "abcabcabc" (cross-engine)
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(fixedPin)
    val buf = new Array[Byte](32)
    val n = inf.inflate(buf)
    inf.end()
    assert(new String(buf, 0, n, "US-ASCII") == "abcabcabc")
    // stored: BFINAL=1 BTYPE=00, align, LEN=5 NLEN=~5, then raw "graft"
    val storedPin = Array[Byte](0x01, 0x05, 0x00, 0xfa.toByte, 0xff.toByte,
      'g', 'r', 'a', 'f', 't')
    val (out2, end2) = graft.functions.Inflate.raw(storedPin, 0, 1 << 16)
    assert(new String(out2, "US-ASCII") == "graft" && end2 == storedPin.length)
    // my fixture encoders emit streams the JDK decodes (encoder honesty):
    Seq(MediaOps.deflateStored _, MediaOps.deflateFixed _).foreach { enc =>
      val data = "spark shuffle partition order key".getBytes("UTF-8")
      val inf2 = new java.util.zip.Inflater(true)
      inf2.setInput(enc(data) ++ Array[Byte](0)) // nowrap needs a spare byte
      val dec = new Array[Byte](data.length + 8)
      var got = 0
      while (got < data.length && !inf2.finished())
        got += inf2.inflate(dec, got, dec.length - got)
      inf2.end()
      assert(got == data.length && dec.take(got).sameElements(data))
    }
  }

  test("GzipDecode: all three fixture modes decode losslessly; JDK-encoded members too") {
    val rnd = new scala.util.Random(1951)
    (0 until 24).foreach { i =>
      val text = (0 until rnd.nextInt(400))
        .map(_ => "spark key order scan " (rnd.nextInt(21))).mkString
      val data = text.getBytes("UTF-8")
      val docId = i.toLong
      val payload = MediaOps.encodeGzip(docId, data)
      val row = graft.functions.GzipDecode.stats(payload)
      assert(row != null, s"mode ${i % 3} nulled out")
      assert(row.getLong(0) == 8L)
      assert(row.getLong(1) == (8 | (i % 3 match { case 0 => 2; case 1 => 4; case _ => 16 })).toLong)
      assert(row.getLong(2) == docId)
      assert(row.getLong(3) == 255L)
      assert(row.getUTF8String(4).toString == s"doc_$docId.txt")
      assert(row.getLong(5) == data.length.toLong)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(data).map("%02x".format(_)).mkString
      assert(row.getUTF8String(6).toString == md5)
      // the JDK decodes my members to the same bytes (cross-engine both ways)
      val jdk = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(payload)).readAllBytes()
      assert(jdk.sameElements(data))
    }
    // a JDK-authored member (GZIPOutputStream: FLG=0, no FNAME) decodes too
    val data = "deflate huffman lz77 window".getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    val row = graft.functions.GzipDecode.stats(bos.toByteArray)
    assert(row != null && row.isNullAt(4) && row.getLong(5) == data.length.toLong)
    assert(row.getLong(7) == 1L)
  }

  test("GzipDecode: member-concatenated archives walk every member; boundaries vanish") {
    val rnd = new scala.util.Random(1952)
    (0 until 12).foreach { i =>
      val text = (0 until 3 + rnd.nextInt(200))
        .map(_ => "order spark merge key ) " (rnd.nextInt(24))).mkString
      val data = text.getBytes("UTF-8")
      val docId = 100L + i
      val payload = MediaOps.encodeGzipConcat(docId, data)
      val k = 1 + (data.length % 3)
      val row = graft.functions.GzipDecode.stats(payload)
      assert(row != null, s"concat of $k members nulled out")
      assert(row.getLong(7) == k.toLong)
      assert(row.getLong(5) == data.length.toLong)
      assert(row.getLong(2) == docId) // first member's MTIME
      assert(row.getUTF8String(4).toString == s"doc_${docId}_m0.txt")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(data).map("%02x".format(_)).mkString
      assert(row.getUTF8String(6).toString == md5, "concatenated content digest")
      // the JDK agrees: GZIPInputStream in multi-member mode yields the
      // same concatenation (cross-engine)
      val jdk = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(payload)).readAllBytes()
      assert(jdk.sameElements(data))
      // corrupting the SECOND member's trailer must null the whole archive
      if (k > 1) {
        val m = payload.clone()
        m(m.length - 5) = (m(m.length - 5) ^ 1).toByte
        assert(graft.functions.GzipDecode.stats(m) == null,
          "last member's CRC not verified")
      }
    }
  }

  test("GzipDecode: corruption nulls — header, checksums, trailer, truncation, garbage") {
    val data = "the fast key order sort table scan merge".getBytes("UTF-8")
    (0L to 2L).foreach { docId =>
      val good = MediaOps.encodeGzip(docId, data)
      assert(graft.functions.GzipDecode.stats(good) != null)
      def mut(f: Array[Byte] => Array[Byte]): Unit = {
        val m = f(good.clone())
        assert(graft.functions.GzipDecode.stats(m) == null,
          s"mode $docId accepted a corrupt member")
      }
      mut { b => b(0) = 0x1e; b }                        // bad magic
      mut { b => b(2) = 9; b }                           // unknown method
      mut { b => b(3) = (b(3) | 0x40).toByte; b }        // reserved FLG bit
      mut { b => b(b.length - 5) = (b(b.length - 5) ^ 1).toByte; b } // CRC-32 flip
      mut { b => b(b.length - 1) = (b(b.length - 1) ^ 1).toByte; b } // ISIZE flip
      mut { b => b.dropRight(9) }                        // truncated mid-trailer
      mut { b => b.take(14) }                            // truncated mid-header
      mut { b => b :+ 0x00.toByte }                      // trailing garbage
      // deflate-body bit flip: CRC-32 catches it (or the stream malforms)
      mut { b => val i = b.length - 12; b(i) = (b(i) ^ 0x10).toByte; b }
    }
    // mode-0 FHCRC: flipping a header byte after the CRC16 was stamped
    val m0 = MediaOps.encodeGzip(0L, data)
    val fnameAt = m0.indexOfSlice("doc_0.txt".getBytes("ISO-8859-1"))
    val hm = m0.clone(); hm(fnameAt) = 'x'
    assert(graft.functions.GzipDecode.stats(hm) == null, "FHCRC did not fire")
  }

  test("Inflate: hand-crafted malformed streams — reserved type, bad tables, bad distances") {
    def raw(b: Array[Byte]): Option[Array[Byte]] =
      try Some(graft.functions.Inflate.raw(b, 0, 1 << 16)._1)
      catch { case _: Throwable => None }
    // BTYPE = 3 (reserved)
    val t3 = new DefBits; t3.bit(1); t3.field(3, 2)
    assert(raw(t3.bytes).isEmpty)
    // stored LEN/NLEN mismatch
    val ln = new DefBits; ln.bit(1); ln.field(0, 2)
    assert(raw(ln.bytes ++ Array[Byte](5, 0, 0, 0, 'g', 'r', 'a', 'f', 't')).isEmpty)
    // fixed block, back-reference with nothing in the window (distance 3 > 0 out)
    val dt = new DefBits; dt.bit(1); dt.field(1, 2)
    dt.code(4, 7)  // symbol 260 = length 6
    dt.code(2, 5)  // distance code 2 = 3
    dt.code(0, 7)
    assert(raw(dt.bytes).isEmpty)
    // fixed block, invalid literal symbol 286 (code 0xc6, 8 bits)
    val inv = new DefBits; inv.bit(1); inv.field(1, 2)
    inv.code(0xc6, 8); inv.code(0, 7)
    assert(raw(inv.bytes).isEmpty)
    // dynamic header: over-subscribed code-length code (all 19 lengths = 1)
    val os = new DefBits; os.bit(1); os.field(2, 2)
    os.field(0, 5); os.field(0, 5); os.field(15, 4) // HLIT 257, HDIST 1, HCLEN 19
    (0 until 19).foreach(_ => os.field(1, 3))
    assert(raw(os.bytes).isEmpty)
    // dynamic header: repeat-previous (16) as the very first length symbol.
    // CL code: sym 0 -> len 1, sym 16 -> len 1 (complete), everything else 0.
    // order positions: 16 is index 0, 0 is index 3 => HCLEN >= 4.
    val rp = new DefBits; rp.bit(1); rp.field(2, 2)
    rp.field(0, 5); rp.field(0, 5); rp.field(0, 4) // HLIT 257, HDIST 1, HCLEN 4
    rp.field(1, 3); rp.field(0, 3); rp.field(0, 3); rp.field(1, 3) // 16:1 17:0 18:0 0:1
    rp.code(1, 1) // first length symbol = 16 (canonical: 0->code0, 16->code1)
    assert(raw(rp.bytes).isEmpty)
    // truncation mid-stream (fixed block, literal cut short)
    val tr = new DefBits; tr.bit(1); tr.field(1, 2); tr.code(0x91 >> 4, 4)
    assert(raw(tr.bytes).isEmpty)
  }

  test("ZlibInflate: FCHECK/FDICT/Adler discipline; bomb members cap out as null") {
    val data = "window check adler".getBytes("UTF-8")
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val z = out.toByteArray
    assert(graft.functions.ZlibInflate.decode(z, data.length).sameElements(data))
    def bad(f: Array[Byte] => Array[Byte], exp: Int = data.length): Unit = {
      val m = f(z.clone())
      val r = try { graft.functions.ZlibInflate.decode(m, exp); true }
              catch { case _: Throwable => false }
      assert(!r, "accepted a corrupt zlib stream")
    }
    bad { b => b(0) = (b(0) ^ 0x01).toByte; b }          // method != 8 / FCHECK
    bad { b => b(1) = (b(1) | 0x20).toByte; b }          // FDICT set
    bad { b => b(b.length - 1) = (b(b.length - 1) ^ 1).toByte; b } // Adler flip
    bad(identity, data.length - 1)                       // wrong expected length
    bad { b => b :+ 0x00.toByte }                        // trailing garbage
    // bomb guard: a member expanding past MaxOut decodes to null, one at
    // exactly MaxOut decodes fine (the boundary is inclusive)
    val cap = graft.functions.GzipDecode.MaxOut
    def gzZeros(n: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(new Array[Byte](n)); gz.close()
      bos.toByteArray
    }
    assert(graft.functions.GzipDecode.stats(gzZeros(cap + 1)) == null)
    val atCap = graft.functions.GzipDecode.stats(gzZeros(cap))
    assert(atCap != null && atCap.getLong(5) == cap.toLong)
  }

  test("gzipDecode: staged members decode to the oracle rule (lossless inversion)") {
    val got = MediaOps.gzipDecode(spark, Sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
    assert(got.size == docs.length)
    docs.foreach { r =>
      val id = r.getLong(0)
      val data = r.getString(1).getBytes("UTF-8")
      val row = got(id)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(data).map("%02x".format(_)).mkString
      assert(row.getLong(1) == 8L && row.getLong(3) == id && row.getLong(4) == 255L)
      assert(row.getLong(2) == (8 | (id % 3 match { case 0 => 2; case 1 => 4; case _ => 16 })).toLong)
      assert(row.getString(5) == s"doc_$id.txt")
      assert(row.getLong(6) == data.length.toLong)
      assert(row.getString(7) == md5, s"doc $id content digest")
      assert(row.getLong(8) == 1L)
    }
    // the member-concatenated staged twin: same whole-text digest, member
    // count replaying the 1 + (bytes % 3) split rule
    val concat = MediaOps.gzipConcatDecode(spark, Sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { r =>
      val id = r.getLong(0)
      val data = r.getString(1).getBytes("UTF-8")
      val row = concat(id)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(data).map("%02x".format(_)).mkString
      assert(row.getString(7) == md5 && row.getLong(6) == data.length.toLong)
      assert(row.getLong(8) == (1 + data.length % 3).toLong)
      assert(row.getString(5) == s"doc_${id}_m0.txt")
    }
  }

  test("semanticDedup: one verdict per vector; pruned iff a centroid-farther over-tau neighbor exists") {
    val verdicts = SimilarityOps.semanticDedup(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("k"), r.getAs[Double]("c_cos"), r.getAs[Boolean]("is_kept"))).toMap
    val nVecs = Tables.embeddings(spark, Sf).count()
    assert(verdicts.size == nVecs) // exactly one verdict per corpus vector
    // driver-side recompute of the prune rule on the same trained clusters
    val members = Tables.embeddings(spark, Sf).collect().map { r =>
      val e = r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      (r.getAs[Long]("vec_id"), e)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = members.groupBy { case (id, _) => verdicts(id)._1 }
    val expectPruned = byCluster.values.flatMap { ms =>
      for {
        (ia, ea) <- ms.toSeq; (ib, eb) <- ms.toSeq
        if ia < ib && cos(ea, eb) >= SimilarityOps.SemDedupTau
        (ca, cb) = (verdicts(ia)._2, verdicts(ib)._2)
      } yield if (ca > cb || (ca == cb && ia > ib)) ia else ib
    }.toSet
    assert(verdicts.collect { case (id, (_, _, false)) => id }.toSet == expectPruned)
    assert(expectPruned.nonEmpty) // the threshold genuinely fires at test SF
  }

  test("pcaPowerProjection: matches a driver-side integer-gram power iteration") {
    val dim = graft.operators.DedupOps.EmbDim
    val vecs = Tables.embeddings(spark, Sf).select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // exact-integer second moment, as gramMatrix defines it
    val g = Array.ofDim[Long](dim, dim)
    vecs.foreach { case (_, e) =>
      val q = e.map(x => math.floor(x.toDouble * SimilarityOps.GramScale).toLong)
      for (i <- 0 until dim; j <- 0 until dim) g(i)(j) += q(i) * q(j)
    }
    // the anchored integer kernel (PcVecScale/PcUnitScale), replayed with
    // BigInt exactness and Spark's HALF_UP rounding semantics
    def rndL(x: Double): Long = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    var vi = Array.fill(dim)(SimilarityOps.PcVecScale / 8)
    for (_ <- 1 to SimilarityOps.PcIters) {
      val u = Array.tabulate(dim)(i =>
        (0 until dim).map(j => BigInt(g(i)(j)) * vi(j)).sum)
      val mx = u.map(_.abs).max
      val wi = u.map(x =>
        rndL(x.toDouble / mx.toDouble * SimilarityOps.PcUnitScale))
      val nrm = math.sqrt(wi.map(w => BigInt(w) * w).sum.toDouble)
      vi = wi.map(w => rndL(w.toDouble / nrm * SimilarityOps.PcVecScale))
    }
    val v = vi.map(_.toDouble / SimilarityOps.PcVecScale)
    val got = SimilarityOps.pcaPowerProjection(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("pc1")).toMap
    assert(got.size == vecs.length)
    vecs.foreach { case (id, e) =>
      // VecDot's left-to-right fold, then the 6-dp emission — exact replay
      var d = 0.0
      for (i <- 0 until dim) d += e(i).toDouble * v(i)
      assert(got(id) == r6(d), s"vec $id: ${got(id)} vs ${r6(d)}")
    }
    // the direction is genuinely unit-norm and non-degenerate
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
    assert(v.exists(x => math.abs(x) > 0.2))
  }

  test("embeddingAudit: closed-form isotropy equals the naive O(n^2) pairwise mean") {
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    // replicate the operator's exact arithmetic: GramScale raw quantize,
    // integer norm, AuditScale unit quantize
    def quantUnit(e: Array[Float]): Array[Long] = {
      val qr = e.map(x => math.floor(x.toDouble * SimilarityOps.GramScale).toLong)
      val s2 = qr.map(v => v * v).sum
      qr.map(v => math.floor(v.toDouble / math.sqrt(s2.toDouble) *
        SimilarityOps.AuditScale).toLong)
    }
    val byLabel = vecs.groupBy(_._1).map { case (l, vs) => l -> vs.map(v => quantUnit(v._2)) }
    val got = SimilarityOps.embeddingAudit(spark, Sf).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got.size == byLabel.size)
    byLabel.foreach { case (l, qs) =>
      val n = qs.length
      // naive pairwise mean over all ordered pairs i != j
      val naive = (for { a <- qs; b <- qs if !(a eq b) } yield
        a.zip(b).map { case (x, y) => x * y }.sum).sum.toDouble /
        (n.toLong * (n - 1)).toDouble /
        (SimilarityOps.AuditScale.toDouble * SimilarityOps.AuditScale.toDouble)
      val r = got(l)
      assert(r.getLong(1) == n.toLong)
      assert(math.abs(r.getDouble(5) - naive) < 1e-12,
        s"label $l: ${r.getDouble(5)} vs $naive")
      // anisotropy magnitude is a sane cosine-scale number
      assert(math.abs(r.getDouble(5)) < 1.0)
      // norm stats: min <= mean <= max and all near the quantized norms
      assert(r.getDouble(2) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(3))
    }
  }

  test("nprobeCurve: scan cost replays exactly, curve behaves") {
    val rows = SimilarityOps.nprobeCurve(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rows.keySet == SimilarityOps.NProbeCurve.map(_.toLong).toSet)
    // replay scanned_rows: probed lists' sizes summed driver-side
    val sizes = SimilarityOps.kmeansAssignments(spark, Sf)
      .groupBy(col("k")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nVecs = sizes.values.sum
    for (np <- SimilarityOps.NProbeCurve) {
      val probed = SimilarityOps.kmeansProbes(spark, Sf, np)
        .select(col("query_id"), col("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = probed.map(p => sizes(p._2)).sum
      assert(rows(np.toLong)._3 == want, s"np=$np scanned")
      val nq = probed.map(_._1).distinct.length
      assert(rows(np.toLong)._4 == want.toDouble / (nq.toLong * nVecs).toDouble)
      val r = rows(np.toLong)._2
      assert(r >= 0.0 && r <= 1.0)
    }
    // more probes never scan less, and the widest probe is the best recall
    val byNp = SimilarityOps.NProbeCurve.map(np => rows(np.toLong))
    byNp.map(_._3).sliding(2).foreach {
      case Seq(a, b) => assert(b >= a); case _ => }
    assert(byNp.last._2 >= byNp.head._2)
  }

  test("ppmAHash: hand-built rasters hash as specified; malformed is null") {
    def ppm(w: Int, h: Int, px: Seq[Int]): Array[Byte] =
      (s"P6\n$w $h\n255\n".getBytes("US-ASCII").toSeq ++ px.map(_.toByte)).toArray
    // 2x1 image: lum pattern [30, 300] tiled cyclically over all 64
    // samples -> mean 165 -> every odd bit set (0xAAAA...)
    val h1 = graft.functions.PpmAHash.hash(
      ppm(2, 1, Seq(10, 10, 10, 100, 100, 100)))
    val want = (0 until 64).filter(_ % 2 == 1).map(1L << _).sum
    assert(h1 == want)
    // uniform image: no pixel STRICTLY above the mean -> hash 0
    assert(graft.functions.PpmAHash.hash(
      ppm(2, 2, Seq.fill(12)(55)) ) == 0L)
    // malformed: wrong magic, truncated raster
    assert(graft.functions.PpmAHash.hash("P5\n1 1\n255\nxxx".getBytes) == null)
    assert(graft.functions.PpmAHash.hash(ppm(4, 4, Seq.fill(3)(1))) == null)
    // adversarial header whose w*h*3 overflows Int to a small/negative
    // product: the Long bound must reject the truncated raster (ADVICE r8)
    val overflow = (s"P6\n46341 46341\n255\n".getBytes("US-ASCII").toSeq ++
      Seq.fill(192)(7.toByte)).toArray
    assert(graft.functions.PpmAHash.hash(overflow) == null)
    assert(graft.functions.PpmDecode.stats(overflow) == null)
    // maxval > 255 means 2-byte samples — malformed for this reader, not
    // a silent 1-byte misread (ADVICE r8)
    def ppm16(px: Seq[Int]): Array[Byte] =
      ("P6\n2 1\n65535\n".getBytes("US-ASCII").toSeq ++ px.map(_.toByte)).toArray
    assert(graft.functions.PpmAHash.hash(ppm16(Seq.fill(12)(5))) == null)
    assert(graft.functions.PpmDecode.stats(ppm16(Seq.fill(12)(5))) == null)
  }

  test("QOI: encode/decode roundtrip, all five ops exercised, strict malformed handling") {
    import graft.functions.QoiDecode
    import graft.operators.MediaOps
    def statsOf(w: Int, h: Int, px: Seq[Int]): (Array[Byte], Seq[Long]) = {
      val raster = px.map(_.toByte).toArray
      val enc = MediaOps.encodeQoi(w, h, raster)
      val row = QoiDecode.stats(enc)
      assert(row != null, s"decode failed for ${w}x$h")
      (enc, (0 until QoiDecode.schema.length).map(row.getLong))
    }
    // reference stats computed directly from the raster
    def expect(w: Int, h: Int, px: Seq[Int]): Seq[Long] = {
      def ch(c: Int) = px.zipWithIndex.collect { case (v, i) if i % 3 == c => v.toLong }
      Seq(w.toLong, h.toLong, 3L, 0L) ++
        (0 to 2).flatMap(c => Seq(ch(c).sum, ch(c).min, ch(c).max))
    }
    val rnd = new scala.util.Random(7)
    // random rasters: roundtrip exactness over many shapes
    for (_ <- 1 to 50) {
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(9)
      val px = Seq.fill(w * h * 3)(rnd.nextInt(256))
      val (_, got) = statsOf(w, h, px)
      assert(got == expect(w, h, px))
    }
    // crafted raster hitting every op: run (repeat), index (revisit after
    // other colors), diff (+1 steps), luma (+20 steps), rgb (big jump)
    val crafted = Seq(
      10, 10, 10, 10, 10, 10, 10, 10, 10, // run of the first pixel
      11, 11, 11,                         // diff (+1,+1,+1)
      31, 31, 31,                         // luma (dg=20, dr-dg=0, db-dg=0)
      200, 50, 120,                       // rgb (big jump)
      10, 10, 10,                         // index (seen at slot hash(10,10,10))
      200, 50, 120)                       // index again
    val (enc, got) = statsOf(8, 1, crafted)
    assert(got == expect(8, 1, crafted))
    val ops = enc.drop(14).dropRight(8).map(_ & 0xff)
    assert(ops.exists(b => (b >> 6) == 3 && b != 0xfe && b != 0xff), "no RUN op")
    assert(ops.exists(b => (b >> 6) == 0), "no INDEX op")
    assert(ops.exists(b => (b >> 6) == 1), "no DIFF op")
    assert(ops.exists(b => (b >> 6) == 2), "no LUMA op")
    assert(ops.contains(0xfe), "no RGB op")
    // wire-format pin: the exact encoded bytes for a 2x2 raster, derived
    // BY HAND from the published spec (op codes, delta biases, the
    // (3r+5g+7b+11a)%64 index hash, BE dims, end marker) — the analog of
    // PNG's ImageIO cross-check: encoder+decoder can't agree on a shared
    // misreading of the format without failing this
    val wire = Seq(
      100, 50, 25,    // RGB literal (dg=50 exceeds LUMA range)
      101, 51, 26,    // DIFF +1/+1/+1 -> 0x7F
      100, 50, 25,    // INDEX hit at slot (300+250+175+2805)%64 = 10
      100, 50, 25)    // equals prev -> RUN(1) -> 0xC0
    val wireEnc = MediaOps.encodeQoi(2, 2, wire.map(_.toByte).toArray)
    val expected = ("qoif".getBytes("US-ASCII").map(_.toInt).toSeq ++
      Seq(0, 0, 0, 2, 0, 0, 0, 2, 3, 0,
        0xfe, 100, 50, 25, 0x7f, 0x0a, 0xc0) ++
      Seq.fill(7)(0) ++ Seq(1)).map(_.toByte)
    assert(wireEnc.toSeq == expected,
      s"wire bytes ${wireEnc.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    // strict malformed handling: each mutation must null out
    assert(QoiDecode.stats("qoix".getBytes ++ enc.drop(4)) == null) // magic
    assert(QoiDecode.stats(enc.dropRight(1)) == null)               // marker cut
    assert(QoiDecode.stats(enc.dropRight(9) ++ Array.fill(8)(0.toByte)) == null) // bad marker
    assert(QoiDecode.stats(enc ++ Array[Byte](0)) == null)          // trailing junk
    val tooTall = enc.clone; tooTall(11) = 9 // height 1 -> 9: stream too short
    assert(QoiDecode.stats(tooTall) == null)
    val badChan = enc.clone; badChan(12) = 5
    assert(QoiDecode.stats(badChan) == null)
    // a run crossing the declared pixel count must be rejected
    val runOver = ("qoif".getBytes("US-ASCII").map(_.toInt).toSeq ++
      Seq(0, 0, 0, 2, 0, 0, 0, 1, 3, 0) ++ // 2x1
      Seq(0xfe, 9, 9, 9, 0xc0 | 61) ++      // 1 px + run 62 > 2 px
      Seq.fill(7)(0) ++ Seq(1)).map(_.toByte).toArray
    assert(QoiDecode.stats(runOver) == null)
  }

  test("ahashTable and ahashNearDups: decode-path hashes replay, pairs are the dup groups") {
    val hashes = MediaOps.ahashTable(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay every hash driver-side from the payload bytes
    val payloads = MediaOps.ppmPayloads(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    payloads.foreach { case (id, p) =>
      assert(hashes(id) == graft.functions.PpmAHash.hash(p).longValue())
    }
    // near-dup pairs: on this corpus payloads are md5-derived, so the
    // expected pairs are exactly the identical-payload groups (hamming 0)
    // plus any chance <=3-bit neighbors — verify against brute force
    val got = MediaOps.ahashNearDups(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ids = hashes.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      hm = java.lang.Long.bitCount(hashes(ids(i)) ^ hashes(ids(j)))
      if hm <= MediaOps.AHashMaxHamming
    } yield (ids(i), ids(j), hm)).toSet
    assert(got == want, s"${got.size} vs ${want.size}")
    assert(got.nonEmpty) // the corpus has duplicate texts => duplicate images
    assert(got.exists(_._3 == 0))
  }
}
