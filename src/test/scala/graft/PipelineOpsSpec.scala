package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operators not fully covered by the DuckDB oracle:
  * the xxhash64 MinHash-LSH production path (vs the exact shingle-join
  * pairs), IVF/LSH similarity behavior, multimodal plumbing.
  */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val docs = Tables.load(spark, Sf001, "documents").cache()
  private lazy val emb = Tables.load(spark, Sf001, "embeddings").cache()

  test("minhash-LSH pairs (xxhash64 prod path): subset of exact pairs, recall ≥ 0.6 at J≥0.8") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 16, 4, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH verify step must make every reported pair a true pair")
    val strong = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (strong.nonEmpty) {
      val recall = strong.count(lsh.contains).toDouble / strong.size
      assert(recall >= 0.6, s"recall $recall over ${strong.size} strong pairs")
    }
  }

  test("fuzzy pipeline == independent composition of its stage operators (sf0.001)") {
    // the composed plan must agree with driver-side set algebra over the
    // STANDALONE operators' collected outputs — a different code path
    // through the same semantics (joins+anti-joins vs Set ops)
    val d = Sf0001
    val docsT = Tables.load(spark, d, "documents")
    val entry = SparkEntry.queries("corpus_pipeline_fuzzy")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kept = SparkEntry.queries("classifier_score_hashed")(spark, d)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val nonSurv = SparkEntry.queries("dedup_canonical_map")(spark, d)
      .filter(col("is_survivor") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // the fuzzy pipeline's decon stage rides the AUTO band width (r11:
    // no fixed dial in the headline suite) — recompute the same dirty
    // set through the public auto-width entry point
    val dirty = Similarity.semanticDecontaminate(Tables.load(spark, d, "embeddings"), 0.35)
      .select("train_id").collect().map(_.getLong(0)).toSet
    val survivors = docsT.select("doc_id").collect().map(_.getLong(0)).toSet
      .intersect(kept) -- nonSurv -- dirty
    assert(entry.map(_._2).sum === survivors.size.toLong,
      s"pipeline n_docs ${entry.map(_._2).sum} != composed survivor count ${survivors.size}")
    // pack ids contiguous from 0, every pack non-empty
    assert(entry.map(_._1).toSeq == entry.indices.map(_.toLong))
    assert(entry.forall(_._2 > 0))
    // and BOTH dropping stages actually bind on this corpus (else the
    // composition would pass vacuously with nothing dropped — ADVICE r9
    // flagged the decon guard as missing; the fixture drops 2 docs)
    assert(nonSurv.nonEmpty, "fixture carries no near-dup clusters — stage untested")
    assert(dirty.nonEmpty, "fixture flags no semantic contamination — decon stage untested")
  }

  test("prefix-filtered Jaccard pairs == unfiltered (PPJoin filter is exact)") {
    val basic = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val prefixed = Dedup.ngramJaccardPairsPrefix(docs, 3, 0.8)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(prefixed.sameElements(basic))
    // and at a looser threshold, where prefixes are longer
    val b2 = Dedup.ngramJaccardPairs(docs, 3, 0.3).count()
    val p2 = Dedup.ngramJaccardPairsPrefix(docs, 3, 0.3).count()
    assert(b2 === p2)
  }

  test("duplicate clustering: transitive chains collapse to the minimal id") {
    import spark.implicits._
    // chain 5-3, 3-9 and isolated pair 20-30: {3,5,9}→3, {20,30}→20
    val pairs = Seq((5L, 3L), (3L, 9L), (30L, 20L)).toDF("a_id", "b_id")
    val got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 30L -> 20L))
  }

  test("small-graph union-find path == distributed label propagation (real pairs)") {
    val pairs = Dedup.ngramJaccardPairsPrefix(docs, 3, 0.8).persist()
    val local = Dedup.clusters(pairs) // ≤ threshold → union-find
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = Dedup.clustersDistributed(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(local.sameElements(dist))
    assert(local.nonEmpty)
  }

  test("exact dedup is idempotent and keeps minimal ids") {
    val d1 = Dedup.exact(docs)
    assert(d1.count() === docs.select(md5(col("text"))).distinct().count())
    val kept = d1.collect().map(_.getLong(0)).toSet
    assert(docs.select(min(col("doc_id"))).head.getLong(0) === kept.min)
  }

  test("simhash: near-identical docs (J≥0.8) agree on most bits") {
    // four 16-bit words per doc; the bound is the 16-bit one (4 of 16
    // bits) scaled to 64 bits
    val sh = Dedup.simhash64(docs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val strong = Dedup.ngramJaccardPairs(docs, 3, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    if (strong.nonEmpty) {
      val dists = strong.map { case (a, b) =>
        sh(a).zip(sh(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      }
      assert(dists.sum.toDouble / dists.length <= 16.0,
        s"mean hamming ${dists.sum.toDouble / dists.length} over ${dists.length} near-dup pairs")
    }
  }

  test("similarity topK: k rows, sims in [-1,1], descending") {
    val rows = Similarity.topK(emb, 10).collect()
    assert(rows.length === 10)
    val sims = rows.map(_.getDouble(1))
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("IVF: buckets partition the corpus; in-bucket search is a subset of brute-force ranking") {
    val buckets = Similarity.ivfBuckets(emb)
    assert(buckets.count() === emb.count())
    assert(buckets.select("bucket").distinct().count() > 1)
    val ivf = Similarity.ivfTopK(emb, 5).collect().map(_.getLong(0)).toSet
    val brute = Similarity.topK(emb, 50).collect().map(_.getLong(0)).toSet
    assert(ivf.forall(brute.contains), "IVF results must rank high globally")
  }

  test("token stats: n_tokens > 0 and avg token length sane") {
    val s = TextAnalysis.stats(docs)
    assert(s.filter(col("n_tokens") <= 0).count() === 0)
    assert(s.filter(col("avg_tok_len") <= 0 || col("avg_tok_len") > 30).count() === 0)
  }

  test("codegen vector kernels == HOF reference formulation bit-for-bit") {
    // the native FloatDot* expressions must reproduce the interpreted
    // higher-order-function fold EXACTLY (same left association), or
    // every similarity oracle silently drifts
    val hofCos = emb.selectExpr(
      "vec_id",
      s"${Similarity.cosineToQuery(Similarity.SparkDialect, "embedding")} AS sim")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val cgCos = emb.select(col("vec_id"), Similarity.cosineToQueryCol(col("embedding")).as("sim"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)))
    assert(cgCos.nonEmpty)
    cgCos.foreach { case (id, v) => assert(v === hofCos(id), s"cosine mismatch for vec $id") }

    val nb = Similarity.LshBands
    val hofBands = (0 until nb).foldLeft(emb) { (df, b) =>
      df.withColumn(s"band$b", expr(Similarity.bandExpr(Similarity.SparkDialect, "embedding", b)))
    }.select(col("vec_id") +: (0 until nb).map(b => col(s"band$b")): _*)
      .collect().map(r => r.getLong(0) -> (1 to nb).map(r.getInt)).toMap
    Similarity.lshBanded(emb).collect().foreach { r =>
      assert((1 to nb).map(r.getInt) === hofBands(r.getLong(0)))
    }
  }

  test("content-hash sampling: deterministic, union-distributive, rate-accurate") {
    import graft.operators.Sampling
    val ids = Sampling.sampleByContent(docs, 250).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // deterministic: same selection on rerun
    assert(Sampling.sampleByContent(docs, 250).select("doc_id")
      .collect().map(_.getLong(0)).toSet === ids)
    // union-distributive: sampling two shards == sampling the union
    // (the property that makes incremental backfills safe)
    val shardA = Sampling.sampleByContent(docs.filter(col("doc_id") % 2 === 0), 250)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val shardB = Sampling.sampleByContent(docs.filter(col("doc_id") % 2 === 1), 250)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((shardA ++ shardB) === ids)
    // rate ≈ 250‰ (binomial tolerance at 500 docs, duplicates correlate)
    val rate = ids.size.toDouble / docs.count()
    assert(math.abs(rate - 0.25) < 0.08, s"sample rate $rate far from 0.25")
  }

  test("language-ID accuracy ≥ 0.9 on a corpus whose text matches its labels") {
    // the driver-provided documents table has labels uncorrelated with
    // the text (synthetic corpus), so accuracy is unmeasurable there —
    // this fixture gives each language its actual character distribution
    import SparkTestBase.spark.implicits._
    val vocab = Map(
      "de" -> Seq("der", "schule", "und", "einfach", "ich", "nicht", "sprache", "schnell"),
      "en" -> Seq("the", "running", "nation", "and", "entity", "thing", "motion", "present"),
      "es" -> Seq("que", "los", "cansada", "gente", "cancion", "adelante", "ciudad", "nada"),
      "fr" -> Seq("les", "meilleur", "lentement", "anglais", "franchement", "douceur", "jamais"),
      "zh" -> Seq("的是", "了在", "我们", "你好", "学习"))
    val rnd = new scala.util.Random(13)
    val docs = (0 until 200).map { i =>
      val lang = vocab.keys.toSeq.sorted(Ordering.String)(i % 5)
      val words = Seq.fill(30)(vocab(lang)(rnd.nextInt(vocab(lang).size)))
      (i.toLong, words.mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    val preds = graft.operators.LanguageId.predict(docs).collect()
    val correct = preds.count(r => r.getString(1) == r.getString(2))
    val acc = correct.toDouble / preds.length
    assert(acc >= 0.9, s"language-ID accuracy $acc < 0.9 on the distribution-matched corpus")
  }

  test("multimodal decode parses real PNG and WAV header bytes") {
    import SparkTestBase.spark.implicits._
    def bytes(hexStr: String): Array[Byte] =
      hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a genuine, complete 1×1 RGBA PNG file
    val png1x1 = bytes(
      "89504E470D0A1A0A0000000D49484452000000010000000108060000001F15C489" +
        "0000000A49444154789C63000100000500010D0A2DB40000000049454E44AE426082")
    // a standard 44-byte RIFF/WAVE header: PCM, stereo, 44100 Hz, 16-bit
    val wav44 = bytes(
      "5249464624000000" + "57415645" + "666D7420" + "10000000" + "0100" + "0200" +
        "44AC0000" + "10B10200" + "0400" + "1000" + "6461746100000000")
    val df = Seq((1L, "image", png1x1), (2L, "audio", wav44))
      .toDF("id", "modality", "payload")
    val m = Multimodal.decodeMeta(df)
      .select(col("id"), col("meta.fmt"), col("meta.width"), col("meta.height"),
        col("meta.sample_rate"), col("meta.channels"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getString(1) === "image/png")
    assert(m(1L).getInt(2) === 1 && m(1L).getInt(3) === 1)
    assert(m(1L).isNullAt(4) && m(1L).isNullAt(5))
    assert(m(2L).getString(1) === "audio/wav")
    assert(m(2L).isNullAt(2) && m(2L).isNullAt(3))
    assert(m(2L).getInt(4) === 44100 && m(2L).getInt(5) === 2)
  }

  test("multimodal synthesized headers round-trip: decode(encode(doc_id)) == doc_id derivation") {
    val out = Multimodal.decodeMeta(Multimodal.synthesizeAssets(docs.limit(50)))
      .select(col("id"), col("meta.fmt"), col("meta.width"), col("meta.sample_rate"))
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) {
        assert(r.getString(1) === "image/png")
        assert(r.getInt(2) === (id % 1904 + 16).toInt)
      } else {
        assert(r.getString(1) === "audio/wav")
        assert(r.getInt(3) === Seq(8000, 16000, 22050, 44100)((id % 4).toInt))
      }
    }
  }

  test("BMP pixel path: ImageIO decodes the synthesized bytes; stats and resize match the formula") {
    import SparkTestBase.spark.implicits._
    def b(id: Long, x: Long, y: Long) = (id * 31 + x * 7 + y * 13) % 256
    def g(id: Long, x: Long, y: Long) = (id * 17 + x * 5 + y * 11) % 256
    def r(id: Long, x: Long, y: Long) = (id * 7 + x * 3 + y * 19) % 256
    val ids = Seq(0L, 1L, 5L, 11L) // covers w 1..4 × h 1..3 corners
    val assets = Multimodal.synthesizeBmpAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))

    // 1) a REAL third-party codec (the JDK's ImageIO BMP reader) must
    //    decode the synthesized bytes to exactly the formula pixels
    val payloads = assets.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap
    for (id <- ids) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO failed to decode BMP for id=$id")
      val (w, h) = (id % 4 + 1, id % 3 + 1)
      assert(img.getWidth === w.toInt && img.getHeight === h.toInt)
      for (x <- 0L until w; y <- 0L until h) {
        val rgb = img.getRGB(x.toInt, y.toInt)
        assert((rgb & 0xff) === b(id, x, y).toInt, s"B id=$id ($x,$y)")
        assert(((rgb >> 8) & 0xff) === g(id, x, y).toInt, s"G id=$id ($x,$y)")
        assert(((rgb >> 16) & 0xff) === r(id, x, y).toInt, s"R id=$id ($x,$y)")
      }
    }

    // 2) byte-parsed channel means == formula means
    val stats = Multimodal.bmpPixelStats(assets).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val (w, h) = (id % 4 + 1, id % 3 + 1)
      val px = for (x <- 0L until w; y <- 0L until h) yield (x, y)
      assert(stats(id).getAs[Int]("width") === w.toInt)
      assert(stats(id).getAs[Long]("mean_b_permille") ===
        px.map { case (x, y) => b(id, x, y) }.sum * 1000 / (w * h))
      assert(stats(id).getAs[Long]("mean_r_permille") ===
        px.map { case (x, y) => r(id, x, y) }.sum * 1000 / (w * h))
    }

    // 3) nearest-neighbor resize: valid BMP out, ceil dims, pixels are
    //    the f-strided source samples (checked via the same stats path)
    val resized = Multimodal.bmpResize(assets, 2)
    val meta = Multimodal.decodeMeta(resized)
      .select(col("id"), col("meta.fmt"), col("meta.width"), col("meta.height"))
      .collect().map(r0 => r0.getLong(0) -> r0).toMap
    val rstats = Multimodal.bmpPixelStats(resized).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val (w, h) = (id % 4 + 1, id % 3 + 1)
      val (nw, nh) = ((w + 1) / 2, (h + 1) / 2)
      assert(meta(id).getString(1) === "image/bmp")
      assert(meta(id).getInt(2) === nw.toInt && meta(id).getInt(3) === nh.toInt)
      val px = for (x <- 0L until nw; y <- 0L until nh) yield (x * 2, y * 2)
      assert(rstats(id).getAs[Long]("mean_g_permille") ===
        px.map { case (x, y) => g(id, x, y) }.sum * 1000 / (nw * nh))
    }
  }

  test("PNG pixel path: synthesized files are valid (ImageIO), decode matches formula and ImageIO") {
    import SparkTestBase.spark.implicits._
    def bC(id: Long, x: Long, y: Long) = (id * 31 + x * 7 + y * 13) % 256
    def gC(id: Long, x: Long, y: Long) = (id * 17 + x * 5 + y * 11) % 256
    def rC(id: Long, x: Long, y: Long) = (id * 7 + x * 3 + y * 19) % 256
    val ids = Seq(0L, 3L, 7L, 19L) // covers w 1..5 × h 1..4 corners
    val assets = Multimodal.synthesizePngAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))

    // 1) a REAL third-party codec (ImageIO's PNG reader) decodes the
    //    synthesized bytes to exactly the formula pixels — certifying
    //    the Deflater/CRC encode side independently of our decoder
    val payloads = assets.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap
    for (id <- ids) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO failed to decode PNG for id=$id")
      val (w, h) = (id % 5 + 1, id % 4 + 1)
      assert(img.getWidth === w.toInt && img.getHeight === h.toInt)
      for (x <- 0L until w; y <- 0L until h) {
        val rgb = img.getRGB(x.toInt, y.toInt)
        assert((rgb & 0xff) === bC(id, x, y).toInt, s"B id=$id ($x,$y)")
        assert(((rgb >> 8) & 0xff) === gC(id, x, y).toInt, s"G id=$id ($x,$y)")
        assert(((rgb >> 16) & 0xff) === rC(id, x, y).toInt, s"R id=$id ($x,$y)")
      }
      // header decode composes: decodeMeta sees a real PNG IHDR
      val meta = Multimodal.decodeMeta(assets).filter(col("id") === id)
        .select(col("meta.fmt"), col("meta.width"), col("meta.height")).collect().head
      assert(meta.getString(0) === "image/png")
      assert(meta.getInt(1) === w.toInt && meta.getInt(2) === h.toInt)
    }

    // 2) inflate+unfilter channel means == formula means
    val stats = Multimodal.pngPixelStats(assets).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val (w, h) = (id % 5 + 1, id % 4 + 1)
      val px = for (x <- 0L until w; y <- 0L until h) yield (x, y)
      assert(stats(id).getAs[Int]("width") === w.toInt)
      assert(stats(id).getAs[Int]("height") === h.toInt)
      assert(stats(id).getAs[Long]("mean_b_permille") ===
        px.map { case (x, y) => bC(id, x, y) }.sum * 1000 / (w * h))
      assert(stats(id).getAs[Long]("mean_g_permille") ===
        px.map { case (x, y) => gC(id, x, y) }.sum * 1000 / (w * h))
      assert(stats(id).getAs[Long]("mean_r_permille") ===
        px.map { case (x, y) => rC(id, x, y) }.sum * 1000 / (w * h))
    }
  }

  test("JPEG tier: synthesized bytes are real baseline JPEGs; round trip certifies within bound") {
    import SparkTestBase.spark.implicits._
    def gC(id: Long, x: Long, y: Long) = (id * 7 + x * 3 + y * 19) % 256
    val ids = Seq(0L, 5L, 13L, 62L) // covers the w 4..12 × h 3..9 moduli corners
    val assets = Multimodal.synthesizeJpegAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))
    val payloads = assets.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap
    for (id <- ids) {
      val p = payloads(id)
      // real JPEG container: SOI marker FF D8 and EOI FF D9
      assert((p(0) & 0xFF) === 0xFF && (p(1) & 0xFF) === 0xD8, s"SOI id=$id")
      assert((p(p.length - 2) & 0xFF) === 0xFF && (p(p.length - 1) & 0xFF) === 0xD9, s"EOI id=$id")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      val (w, h) = (id % 9 + 4, id % 7 + 3)
      assert(img.getWidth === w.toInt && img.getHeight === h.toInt)
      // lossy but bounded: every decoded sample within a few levels
      for (x <- 0L until w; y <- 0L until h)
        assert(
          math.abs(img.getRaster.getSample(x.toInt, y.toInt, 0) - gC(id, x, y).toInt) <= 8,
          s"sample id=$id ($x,$y)")
    }
    val cert = Multimodal.jpegPixelCertify(assets).collect()
    assert(cert.length === ids.length)
    cert.foreach { r0 =>
      val id = r0.getLong(0)
      assert(r0.getInt(1) === (id % 9 + 4).toInt && r0.getInt(2) === (id % 7 + 3).toInt)
      assert(r0.getBoolean(3), s"certification failed for id=$id")
    }
  }

  test("AVI frame sampling: container structurally valid, strided stats match driver brute-force") {
    import SparkTestBase.spark.implicits._
    val ids = Seq(0L, 1L, 5L, 11L, 23L) // covers w 2..5 × h 2..4 × nf 2..7 corners
    val assets = Multimodal.synthesizeAviAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))

    // container structure: declared RIFF size + 8 == actual byte length,
    // movi chunk count and sizes consistent with the avih header
    assets.collect().foreach { row =>
      val id = row.getLong(0)
      val p = row.getAs[Array[Byte]](2)
      def le32(off0: Int) = // 0-based offset
        (0 until 4).map(k => (p(off0 + k) & 0xffL) << (8 * k)).sum
      assert(new String(p.slice(0, 4), "US-ASCII") === "RIFF")
      assert(new String(p.slice(8, 12), "US-ASCII") === "AVI ")
      assert(le32(4) + 8 === p.length, s"id=$id declared RIFF size inconsistent")
      val (w, h, nf) = (id % 4 + 2, id % 3 + 2, id % 6 + 2)
      assert(le32(64) === w && le32(68) === h && le32(48) === nf)
      assert(new String(p.slice(96, 100), "US-ASCII") === "movi")
      // each frame chunk: '00db' + size + wh bytes at its closed-form slot
      (0L until nf).foreach { f =>
        val base = 100 + f.toInt * (w * h + 8).toInt
        assert(new String(p.slice(base, base + 4), "US-ASCII") === "00db", s"id=$id frame $f")
        assert(le32(base + 4) === w * h)
      }
    }

    // strided stats == driver brute-force over the same pixel formula
    val stride = 2
    val stats = Multimodal.aviFrameStats(assets, stride).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(stats.keySet === ids.toSet)
    ids.foreach { id =>
      val (w, h, nf) = (id % 4 + 2, id % 3 + 2, id % 6 + 2)
      val sampled = (0L until nf by stride.toLong)
      val pix = for (f <- sampled; i <- 0L until w * h)
        yield (id * 31 + f * 17 + i * 7) % 256
      val r = stats(id)
      assert(r.getInt(1) === w.toInt && r.getInt(2) === h.toInt)
      assert(r.getLong(3) === nf && r.getLong(4) === sampled.size.toLong)
      assert(r.getLong(5) === pix.sum, s"id=$id sum_lum")
      assert(r.getLong(6) === pix.max, s"id=$id peak_lum")
    }
  }

  test("PNG decoder handles ImageIO-written files (adaptive filters) and all 5 filter types") {
    // 1) ImageIO WRITES a gradient image (its encoder picks per-row
    //    filters adaptively — exercising Sub/Up/Average/Paeth in our
    //    unfilter loop); our decoder must agree with the source pixels
    val (w, h) = (23, 17)
    val src = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      src.setRGB(x, y, ((x * 11 + y) % 256 << 16) | ((x + y * 7) % 256 << 8) | ((x * y + 3) % 256))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "png", bos))
    val (dw, dh, sr, sg, sb) = Multimodal.decodePngRgb(bos.toByteArray)
    assert(dw === w && dh === h)
    val want = (for (x <- 0 until w; y <- 0 until h) yield {
      val rgb = src.getRGB(x, y)
      ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
    })
    assert(sr === want.map(_._1.toLong).sum)
    assert(sg === want.map(_._2.toLong).sum)
    assert(sb === want.map(_._3.toLong).sum)

    // 2) hand-built PNG with one row per filter type (0..4), filtered
    //    bytes computed here from the spec's definitions — a decoder
    //    that mishandles any filter or the predictor edge cases fails
    val pw = 4
    val rows = 5
    val pix = Array.tabulate(rows, pw * 3)((y, i) => (y * 37 + i * 11) % 256)
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until rows) {
      raw.write(y) // filter type = row index
      for (i <- 0 until pw * 3) {
        val x = pix(y)(i)
        val a = if (i >= 3) pix(y)(i - 3) else 0
        val b = if (y > 0) pix(y - 1)(i) else 0
        val c = if (y > 0 && i >= 3) pix(y - 1)(i - 3) else 0
        val f = y match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw.write(f & 0xff)
      }
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val z = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) z.write(tmp, 0, defl.deflate(tmp))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(pw).putInt(rows).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    // split IDAT in two chunks: multi-IDAT streams must concatenate
    val zb = z.toByteArray
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", ihdr) ++
      chunk("IDAT", zb.take(zb.length / 2)) ++
      chunk("IDAT", zb.drop(zb.length / 2)) ++
      chunk("IEND", Array.emptyByteArray)
    val (gw, gh, r2, g2, b2) = Multimodal.decodePngRgb(png)
    assert(gw === pw && gh === rows)
    val sums = (0 until rows).flatMap(y => (0 until pw * 3).map(i => (i % 3, pix(y)(i).toLong)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(r2 === sums(0) && g2 === sums(1) && b2 === sums(2))

    // 3) unsupported shapes are rejected loudly, not silently mis-decoded
    val gray = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val gbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gray, "png", gbos)
    val e = intercept[IllegalArgumentException](Multimodal.decodePngRgb(gbos.toByteArray))
    assert(e.getMessage.contains("unsupported PNG"))

    // 4) an IDAT inflating beyond the declared pixel data is rejected,
    //    not silently prefix-decoded: shrink the IHDR height by one
    val big = Multimodal.pngBytes(19L) // w=5, h=4
    val shrunk = big.clone()
    shrunk(8 + 8 + 7) = 3 // IHDR height LSB (sig 8 + len/type 8 + 4 w + 3)
    // fix the IHDR CRC so the chunk walk still accepts it
    val crc = new java.util.zip.CRC32
    crc.update(shrunk, 12, 4 + 13) // type + data
    val cv = crc.getValue.toInt
    shrunk(29) = (cv >> 24).toByte; shrunk(30) = (cv >> 16).toByte
    shrunk(31) = (cv >> 8).toByte; shrunk(32) = cv.toByte
    val e2 = intercept[IllegalArgumentException](Multimodal.decodePngRgb(shrunk))
    assert(e2.getMessage.contains("beyond the expected"))
  }

  test("GIF decoder rejects zero-dimension image descriptors loudly") {
    import graft.operators.GifPixels
    val g = GifPixels.gifBytes(0L).clone()
    // image descriptor at 6 (sig) + 7 (LSD) + 768 (GCT) = 781; w at +5,+6
    g(781 + 5) = 0
    g(781 + 6) = 0
    val e = intercept[IllegalArgumentException](GifPixels.decodeGifRgb(g))
    assert(e.getMessage.contains("empty GIF dimensions"))
  }

  test("GIF pixel path: ImageIO reads the synthesized files; general LZW decode matches") {
    import SparkTestBase.spark.implicits._
    import graft.operators.GifPixels
    def palR(j: Int) = j
    def palG(j: Int) = (j * 3 + 17) % 256
    def palB(j: Int) = (j * 7 + 29) % 256
    def pix(id: Long, x: Int, y: Int) = ((id * 13 + x * 7 + y * 11) % 256).toInt
    val ids = Seq(0L, 4L, 17L, 29L) // covers w 1..6 × h 1..5 corners
    val assets = GifPixels.synthesizeGifAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))
    val payloads = assets.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap

    // 1) ImageIO (a REAL third-party GIF decoder) reads the synthesized
    //    bytes to exactly the palette-mapped formula pixels
    for (id <- ids) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO failed to decode GIF for id=$id")
      val (w, h) = ((id % 6 + 1).toInt, (id % 5 + 1).toInt)
      assert(img.getWidth === w && img.getHeight === h)
      for (x <- 0 until w; y <- 0 until h) {
        val rgb = img.getRGB(x, y)
        val j = pix(id, x, y)
        assert(((rgb >> 16) & 0xff) === palR(j), s"R id=$id ($x,$y)")
        assert(((rgb >> 8) & 0xff) === palG(j), s"G id=$id ($x,$y)")
        assert((rgb & 0xff) === palB(j), s"B id=$id ($x,$y)")
      }
      // header decode composes with the existing GIF header reads
      val meta = Multimodal.decodeMeta(assets).filter(col("id") === id)
        .select(col("meta.fmt"), col("meta.width"), col("meta.height")).collect().head
      assert(meta.getString(0) === "image/gif")
      assert(meta.getInt(1) === w && meta.getInt(2) === h)
    }

    // 2) stats over the decoded pixels == formula means
    val stats = GifPixels.gifPixelStats(assets).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val (w, h) = ((id % 6 + 1).toInt, (id % 5 + 1).toInt)
      val js = for (x <- 0 until w; y <- 0 until h) yield pix(id, x, y)
      assert(stats(id).getAs[Int]("width") === w)
      assert(stats(id).getAs[Long]("mean_r_permille") === js.map(palR).map(_.toLong).sum * 1000 / (w * h))
      assert(stats(id).getAs[Long]("mean_g_permille") === js.map(palG).map(_.toLong).sum * 1000 / (w * h))
      assert(stats(id).getAs[Long]("mean_b_permille") === js.map(palB).map(_.toLong).sum * 1000 / (w * h))
    }

    // 3) an ImageIO-WRITTEN GIF uses genuine growing-table LZW — our
    //    general decoder must agree with ImageIO's own re-read of it
    val (w, h) = (61, 47)
    val cmap = new java.awt.image.IndexColorModel(
      8, 256,
      Array.tabulate(256)(palR).map(_.toByte),
      Array.tabulate(256)(palG).map(_.toByte),
      Array.tabulate(256)(palB).map(_.toByte))
    val src = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cmap)
    for (x <- 0 until w; y <- 0 until h)
      src.getRaster.setSample(x, y, 0, (x * x + y * 3 + x * y) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "gif", bos))
    val (dw, dh, sr, sg, sb) = GifPixels.decodeGifRgb(bos.toByteArray)
    assert(dw === w && dh === h)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    val want = (for (x <- 0 until w; y <- 0 until h) yield {
      val rgb = back.getRGB(x, y)
      (((rgb >> 16) & 0xff).toLong, ((rgb >> 8) & 0xff).toLong, (rgb & 0xff).toLong)
    })
    assert(sr === want.map(_._1).sum, "R sum vs ImageIO")
    assert(sg === want.map(_._2).sum, "G sum vs ImageIO")
    assert(sb === want.map(_._3).sum, "B sum vs ImageIO")
  }

  test("WAV sample path: JDK audio stack decodes the synthesized bytes; stats match the formula") {
    import SparkTestBase.spark.implicits._
    def u(id: Long, i: Long) = (id * 37 + i * 97) % 65536
    def s(id: Long, i: Long) = { val x = u(id, i); if (x >= 32768) x - 65536 else x }
    val ids = Seq(0L, 1L, 3L, 49L) // mono+stereo, all rates, min/max frame counts
    val assets = Multimodal.synthesizeWavAssets(ids.map(i => (i, "")).toDF("doc_id", "text"))
    val payloads = assets.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap

    // 1) javax.sound.sampled (a REAL third-party WAV parser) reads the
    //    synthesized container: format fields and raw sample bytes agree
    for (id <- ids) {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payloads(id)))
      val fmt = in.getFormat
      val (ch, nf) = ((id % 2 + 1).toInt, id % 50 + 10)
      assert(fmt.getChannels === ch)
      assert(fmt.getSampleSizeInBits === 16)
      assert(fmt.getSampleRate.toInt === Seq(8000, 16000, 22050, 44100)((id % 4).toInt))
      assert(in.getFrameLength === nf)
      val data = in.readAllBytes()
      assert(data.length === (nf * ch * 2).toInt)
      for (i <- 0L until nf * ch) {
        val lo = data(2 * i.toInt) & 0xff
        val hi = data(2 * i.toInt + 1)
        assert((hi.toLong << 8 | lo) === s(id, i), s"sample id=$id i=$i")
      }
    }

    // 2) byte-parsed stats == formula stats
    val stats = Multimodal.wavAudioStats(assets).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val ns = (id % 50 + 10) * (id % 2 + 1)
      val ss = (0L until ns).map(i => s(id, i))
      assert(stats(id).getAs[Long]("n_samples") === ns)
      assert(stats(id).getAs[Int]("channels") === (id % 2 + 1).toInt)
      assert(stats(id).getAs[Long]("sum_abs") === ss.map(math.abs).sum)
      assert(stats(id).getAs[Long]("peak") === ss.map(math.abs).max)
      assert(stats(id).getAs[Long]("sum_sq") === ss.map(x => x * x).sum)
    }

    // 3) non-canonical / non-16-bit payloads are filtered, not mis-read
    assert(Multimodal.wavAudioStats(
      Multimodal.assets(docs.limit(3), "audio")).collect().isEmpty)

    // 4) frame decimation: a VALID shorter WAV whose samples are the
    //    factor-strided source frames — javax.sound agrees on the new
    //    frame count, and the stats chain matches the strided formula
    val f = 3
    val resampled = Multimodal.wavResample(assets, f)
    val rp = resampled.collect().map(r0 => r0.getLong(0) -> r0.getAs[Array[Byte]]("payload")).toMap
    for (id <- ids) {
      val ch = (id % 2 + 1).toInt
      val nf2 = (id % 50 + 10 + f - 1) / f
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(rp(id)))
      assert(in.getFormat.getChannels === ch)
      assert(in.getFrameLength === nf2)
    }
    val rstats = Multimodal.wavAudioStats(resampled).collect().map(r0 => r0.getLong(0) -> r0).toMap
    for (id <- ids) {
      val ch = id % 2 + 1
      val nf2 = (id % 50 + 10 + f - 1) / f
      val ss = for (j <- 0L until nf2; c <- 0L until ch) yield s(id, j * f * ch + c)
      assert(rstats(id).getAs[Long]("n_samples") === nf2 * ch)
      assert(rstats(id).getAs[Long]("sum_abs") === ss.map(math.abs).sum)
      assert(rstats(id).getAs[Long]("peak") === ss.map(math.abs).max)
      assert(rstats(id).getAs[Long]("sum_sq") === ss.map(x => x * x).sum)
    }
  }

  test("multimodal plumbing: schema, deterministic stub meta, bounded frame sample") {
    val a = Multimodal.assets(docs.limit(20))
    val m = Multimodal.decodeMeta(a)
    assert(m.schema("meta").dataType.typeName === "struct")
    val r = m.select(col("meta.n_bytes"), col("meta.fmt")).collect()
    assert(r.forall(_.getLong(0) > 0))
    assert(r.forall(_.getString(1) === "text/raw"))
    // deterministic: same input → same digest
    val d1 = m.select("digest").collect().map(_.getString(0))
    val d2 = Multimodal.decodeMeta(a).select("digest").collect().map(_.getString(0))
    assert(d1.sameElements(d2))
    val f = Multimodal.frameSample(a, stride = 16, maxFrames = 8)
    val sizes = f.select(size(col("frames"))).collect().map(_.getInt(0))
    assert(sizes.forall(s => s >= 1 && s <= 8))
    // resize composes: payload stays binary, shrinks by ~factor, decode still works
    val resized = Multimodal.decodeMeta(Multimodal.resize(a, 4))
    val pair = resized.select(col("meta.n_bytes")).collect().map(_.getLong(0))
      .zip(m.select(col("meta.n_bytes")).collect().map(_.getLong(0)))
    assert(pair.forall { case (r, o) => r <= o / 4 + 1 && r >= 1 })
  }
}
