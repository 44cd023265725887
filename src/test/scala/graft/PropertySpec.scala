package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.{StageFilter, TieMode}

/** ScalaCheck-generated properties the reference only implies
  * (FIXTURES.md F7): rank validity, score bounds, weight-scale
  * invariance, top-N filter monotonicity. Uses scalacheck generators
  * directly (fixed seeds, N samples) — the scalatest bridge artifact is
  * not in the offline cache. Row counts stay small: the properties are
  * about semantics, not scale. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  val rowsGen: Gen[List[(Long, Double)]] = for {
    n <- Gen.choose(1, 40)
    // values drawn from a small grid so ties are likely
    vs <- Gen.listOfN(n, Gen.choose(0, 12).map(_ * 7.5 + 1.0))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, Gen.oneOf(
      "the", "quick", "fox", "2020-2024", "call", "555-123-4567",
      "a@b.co", "<b>x</b>", "&amp;lt;", "10.0.0.1", "  ", "\n",
      "Privacy Policy", "Copyright", "data", "spark"))
  } yield words.mkString(" ")

  test("property: cleaning invariants (emails/IPs gone, whitespace normal, counts sane)") {
    // NOTE clean() is deliberately NOT idempotent: a second pass would
    // strip the <PHONE>/<EMAIL>/<IP> tokens as tags and decode entities a
    // second level — cleaning is a one-shot ingest stage.
    import graft.ops.TextCleaning
    val data = samples(Gen.listOfN(12, textGen), 4).flatten
    val df = data.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b".r
    TextCleaning.clean(df, "t", out = "c")
      .select("id", "t", "c", "c_pii").collect().foreach { r =>
        val c = r.getString(2)
        // email and IP redaction is complete (joins can't form new ones:
        // a space lands between joined lines and breaks both patterns)
        assert(emailPat.findFirstIn(c).isEmpty, s"email survived in '$c'")
        assert(ipv4Pat.findFirstIn(c).isEmpty, s"ip survived in '$c'")
        // whitespace is fully normalized
        assert(!c.contains("  ") && c == c.trim)
        // pii counts are non-negative
        val pii = r.getStruct(3)
        assert((0 until 3).forall(j => pii.getInt(j) >= 0))
      }
  }

  test("property: boilerplate fraction in [0,1]; removed lines never exceed total") {
    import graft.ops.TextCleaning
    val data = samples(Gen.listOfN(10, textGen), 3).flatten
    val df = data.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    df.select(TextCleaning.boilerplateLineFraction(col("t")).as("f"))
      .collect().foreach { r =>
        val f = r.getDouble(0)
        assert(f >= 0.0 && f <= 1.0, s"fraction $f out of range")
      }
  }

  test("property: temperatureMix output is always a subset with per-source determinism") {
    import graft.ops.Sampling
    val gen = Gen.zip(Gen.choose(50, 300), Gen.choose(1, 4))
    samples(gen, 4).foreach { case (n, nSrc) =>
      val df = spark.range(0, n).toDF("id")
        .withColumn("src", (col("id") % nSrc).cast("string"))
      val kept = Sampling.temperatureMix(df, "id", "src", alpha = 0.5,
        targetRows = n / 2, salt = "p1")
      val ids = kept.collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf((0L until n.toLong).toSet))
      // repartitioned input -> identical selection
      val ids2 = Sampling.temperatureMix(df.repartition(5), "id", "src",
        alpha = 0.5, targetRows = n / 2, salt = "p1")
        .collect().map(_.getLong(0)).toSet
      assert(ids == ids2)
      // acceptance never overshoots: kept <= ceil of per-source caps summed
      assert(ids.size <= n)
    }
  }

  test("property: dhash256 is brightness-shift invariant; pigeonhole recall holds") {
    import graft.ops.ImageCodecs
    val rnd = new scala.util.Random(31)
    (0 until 20).foreach { trial =>
      val w = 17 + rnd.nextInt(8)
      val h = 16 + rnd.nextInt(8)
      // pixels in [40, 200): a global +20 brightness shift never clips,
      // so every horizontal luminance gradient keeps its sign
      val rgb = Array.fill(w * h * 3)((40 + rnd.nextInt(160)).toByte)
      val shifted = rgb.map(b => (b + 20).toByte)
      val base = ImageCodecs.gradientHashWords(ImageCodecs.DecodedImage(w, h, rgb))
      val shift = ImageCodecs.gradientHashWords(ImageCodecs.DecodedImage(w, h, shifted))
      assert(base.toSeq == shift.toSeq, s"trial $trial: brightness shift changed dhash")
      // every word is an unsigned 32-bit value (the no-sign-bit contract)
      assert(base.forall(x => x >= 0L && x < (1L << 32)))
    }
  }

  test("property: audio fingerprint is volume-scale invariant (within headroom)") {
    import graft.ops.AudioCodecs
    val rnd = new scala.util.Random(77)
    (0 until 20).foreach { trial =>
      val n = 256 + rnd.nextInt(512)
      // samples within half headroom so doubling never clips shorts
      val s = Array.fill(n)((rnd.nextInt(16000) - 8000).toShort)
      val loud = s.map(x => (x * 2).toShort)
      val a = AudioCodecs.energyFingerprintHalves(AudioCodecs.encodeWavPcm16(16000, 1, s))
      val b = AudioCodecs.energyFingerprintHalves(AudioCodecs.encodeWavPcm16(16000, 1, loud))
      // |2x| = 2|x| exactly -> window energies double -> gradient signs hold
      assert(a == b, s"trial $trial: volume scaling changed fingerprint")
    }
  }

  test("property: media decoders never throw on arbitrary bytes") {
    import graft.ops.{AudioCodecs, ImageCodecs}
    val rnd = new scala.util.Random(123)
    val blobs: Seq[Array[Byte]] =
      Seq(Array.emptyByteArray, Array[Byte](0), "PPM".getBytes, "P6".getBytes,
        "P6\n99999999 99999999\n255\n".getBytes, "RIFF".getBytes,
        ("RIFF" + "\u0000" * 40).getBytes("ISO-8859-1"),
        "BM".getBytes) ++
      (0 until 60).map(i => Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)) ++
      // adversarial: valid magics with corrupt bodies/truncated headers
      (0 until 20).map { i =>
        val junk = Array.fill(30 + rnd.nextInt(60))(rnd.nextInt(256).toByte)
        val magic = if (i % 3 == 0) "P6\n" else if (i % 3 == 1) "RIFF" else "BM"
        magic.getBytes("ISO-8859-1") ++ junk
      } ++
      // partial-frame WAVs: pass pcmLayout but the data chunk length is not a
      // multiple of the frame size (truncated multi-channel crawls) — the
      // orphan trailing samples must not index past the 65-window table
      (1 to 12).map { i =>
        val channels = 1 + (i % 4)       // 1..4 channels
        val bits = if (i % 2 == 0) 8 else 16
        val frameBytes = channels * (bits / 8)
        val dataLen = frameBytes + (i % math.max(2, frameBytes)) // whole frame + orphan bytes
        val out = new Array[Byte](44 + dataLen)
        def putAscii(o: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, o)
        def put16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
        def put32(o: Int, v: Long): Unit = { put16(o, (v & 0xFFFF).toInt); put16(o + 2, ((v >> 16) & 0xFFFF).toInt) }
        putAscii(0, "RIFF"); put32(4, 36L + dataLen); putAscii(8, "WAVE")
        putAscii(12, "fmt "); put32(16, 16L); put16(20, 1); put16(22, channels)
        put32(24, 16000L); put32(28, 16000L * frameBytes); put16(32, frameBytes); put16(34, bits)
        putAscii(36, "data"); put32(40, dataLen.toLong)
        (0 until dataLen).foreach(j => out(44 + j) = (rnd.nextInt(256)).toByte)
        out
      } ++
      // the exact reported repro: stereo 16-bit with one whole frame plus one
      // whole orphan sample (data len 6 = frame 4 + sample 2)
      Seq {
        val out = new Array[Byte](44 + 6)
        def putAscii(o: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, o)
        def put16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
        def put32(o: Int, v: Long): Unit = { put16(o, (v & 0xFFFF).toInt); put16(o + 2, ((v >> 16) & 0xFFFF).toInt) }
        putAscii(0, "RIFF"); put32(4, 42L); putAscii(8, "WAVE")
        putAscii(12, "fmt "); put32(16, 16L); put16(20, 1); put16(22, 2)
        put32(24, 16000L); put32(28, 64000L); put16(32, 4); put16(34, 16)
        putAscii(36, "data"); put32(40, 6L)
        Seq(1, 2, 3, 4, 5, 6).zipWithIndex.foreach { case (v, j) => out(44 + j) = v.toByte }
        out
      }
    blobs.foreach { b =>
      // None/graceful on every malformed input, never an exception
      ImageCodecs.decode(b)
      AudioCodecs.decodeWav(b)
      AudioCodecs.energyFingerprintHalves(b)
      graft.ops.VideoCodecs.decodeClip(b)
      ImageCodecs.decode(b).foreach { img =>
        ImageCodecs.averageHashHalves(img)
        ImageCodecs.gradientHashWords(img)
      }
    }
  }

  test("property: competition ranking is valid (1-2-2-4 shape)") {
    samples(rowsGen, 8).foreach { data =>
      val df = data.toDF("id", "x")
      val ranked = new Evaluator().linear("x", 1.0).evaluate(df)
      val pairs = ranked.select("final_score", "ranking").collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
      // rank of a row = 1 + #rows with strictly greater score
      pairs.foreach { case (score, rank) =>
        assert(rank == 1L + pairs.count(_._1 > score))
      }
    }
  }

  test("property: linear scores bounded by [0,100]*w; formula clipped to [0,100]*w") {
    samples(rowsGen, 8).foreach { data =>
      val df = data.toDF("id", "x").withColumn("y", col("x") * 3 - 10)
      val w = 0.7
      val r = new Evaluator()
        .linear("x", w)
        .formula("y", 0.3, formula = "value * 3 - 20", name = "f")
        .evaluate(df)
      r.select(col("score_x"), col("score_f")).collect().foreach { row =>
        val lin = row.getDouble(0)
        assert(lin >= -1e-9 && lin <= 100.0 * w + 1e-9)
        val f = row.getDouble(1)
        assert(f >= -1e-9 && f <= 100.0 * 0.3 + 1e-9)
      }
    }
  }

  test("property: rescaling all weights leaves normalized final_score unchanged") {
    samples(Gen.zip(rowsGen, Gen.choose(2, 9)), 6).foreach { case (data, k) =>
      val df = data.toDF("id", "x").withColumn("y", col("x") * 2 + 1)
      def scores(w1: Double, w2: Double): Map[Long, Double] =
        new Evaluator().linear("x", w1).minRatio("y", w2).evaluate(df)
          .select("id", "final_score").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val base = scores(0.3, 0.7)
      val scaled = scores(0.3 * k, 0.7 * k)
      base.foreach { case (id, s) => assert(math.abs(scaled(id) - s) < 1e-9) }
    }
  }

  test("property: top-N exclude survivors ⊆ include survivors; sizes bracket n") {
    samples(Gen.zip(rowsGen, Gen.choose(1, 10)), 6).foreach { case (data, n) =>
      if (data.size >= 2) {
        val df = data.toDF("id", "x")
        def survivors(tie: String): Set[Long] = {
          val r = new StagedEvaluator()
            .addStage("S1", filterType = "top_n", topN = n, onTie = tie)
            .direct("x", 1.0)
            .addStage("S2")
            .direct("x", 1.0)
            .evaluate(df)
          r.filter(col("eliminated_at_stage").isNull)
            .select("id").collect().map(_.getLong(0)).toSet
        }
        val inc = survivors("include")
        val exc = survivors("exclude")
        assert(exc.subsetOf(inc))
        assert(inc.size >= math.min(n, data.size))
        assert(exc.size <= math.min(n, data.size))
      }
    }
  }

  test("property: threshold filter partitions rows exactly") {
    samples(Gen.zip(rowsGen, Gen.choose(0.0, 100.0)), 6).foreach { case (data, t) =>
      val df = data.toDF("id", "x")
      val r = new StagedEvaluator()
        .addStage("S1", filterType = "score_threshold", threshold = t)
        .linear("x", 1.0)
        .addStage("S2")
        .direct("x", 1.0)
        .evaluate(df)
      r.select(col("s1_score"), col("eliminated_at_stage")).collect().foreach { row =>
        val s = row.getDouble(0)
        val elim = row.getString(1)
        if (s >= t) assert(elim == null, s"score $s >= $t must survive")
        else assert(elim == "S1", s"score $s < $t must be eliminated")
      }
    }
  }

  test("property: grouped top-k equals the window formulation on random data") {
    import graft.ops.GroupTopK
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 3L)
        s <- Gen.choose(0, 6).map(_ * 2.5) // grid -> ties likely
      } yield (g, s))
    } yield rows.zipWithIndex.map { case ((g, s), i) => (g, i.toLong, s) }
    samples(gen, 6).foreach { data =>
      val df = data.toDF("g", "id", "s")
      val k = 3
      val viaAgg = GroupTopK.topKPerGroup(df, Seq("g"), "id", "s", k)
        .select("g", "rank", "id", "s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("s").desc, col("id").asc)
      val viaWindow = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("g", "rank", "id", "s").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getDouble(3))).toSet
      assert(viaAgg == viaWindow)
    }
  }

  test("property: sequence packing offsets are contiguous and chunks consistent") {
    import graft.ops.Packing
    val gen = for {
      n <- Gen.choose(1, 50)
      rows <- Gen.listOfN(n, for {
        shard <- Gen.oneOf("a", "b", "c")
        toks <- Gen.choose(0L, 900L)
      } yield (shard, toks))
    } yield rows.zipWithIndex.map { case ((sh, t), i) => (i.toLong, sh, t) }
    samples(gen, 6).foreach { data =>
      val budget = 256L
      val out = Packing.sequencePacking(
        data.toDF("doc_id", "shard", "n_tokens"),
        "doc_id", "n_tokens", "shard", budget, orderCol = "doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("shard"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("offset"),
          r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last"),
          r.getAs[Long]("n_chunks")))
      out.groupBy(_._2).foreach { case (_, rows) =>
        val ordered = rows.sortBy(_._1)
        // offsets are the exclusive prefix sums in doc order
        ordered.foldLeft(0L) { case (expected, (_, _, toks, off, _, _, _)) =>
          assert(off == expected, s"offset $off != prefix $expected")
          expected + toks
        }
      }
      out.foreach { case (_, _, toks, off, first, last, n) =>
        assert(first == off / budget)
        assert(last == (off + math.max(toks, 1L) - 1L) / budget)
        assert(n == last - first + 1)
      }
    }
  }

  test("property: hash split fractions partition every row deterministically") {
    import graft.ops.Sampling
    val fracsGen = Gen.oneOf(
      Seq("a" -> 0.5, "b" -> 0.5),
      Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5),
      Seq("only" -> 0.125))
    samples(fracsGen, 3).foreach { fracs =>
      val ids = spark.range(0, 2000).toDF("id")
      val out = Sampling.withSplit(ids, "id", fracs, salt = "p").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out.size == 2000)
      val total = fracs.map(_._2).sum
      val assigned = out.values.count(_.isDefined)
      // every row assigned iff fractions sum to 1; otherwise ~total share
      if (math.abs(total - 1.0) < 1e-12) assert(assigned == 2000)
      else assert(math.abs(assigned - 2000 * total) < 150)
      // re-evaluation is identical (pure function of id+salt)
      val again = Sampling.withSplit(ids, "id", fracs, salt = "p").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(again == out)
    }
  }

  test("property: chunks reassemble to the original text for any size/overlap") {
    import graft.ops.Retrieval
    val caseGen: Gen[(String, Int, Int)] = for {
      n <- Gen.choose(0, 400)
      s <- Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)
      size <- Gen.choose(1, 60)
      overlap <- Gen.choose(0, size - 1)
    } yield (s, size, overlap)
    samples(caseGen, 25).zipWithIndex.foreach { case ((text, size, overlap), i) =>
      val chunks = Retrieval.chunkText(
          Seq((i.toLong, text)).toDF("id", "t"), "id", "t", size, overlap)
        .orderBy("chunk_idx").collect().map(_.getString(2)).toSeq
      // drop each later chunk's overlapping prefix and concatenate
      val rebuilt = (chunks.headOption.getOrElse("") +:
        chunks.drop(1).map(_.drop(overlap))).mkString
      assert(rebuilt == text,
        s"case $i (len=${text.length}, size=$size, overlap=$overlap) reassembly failed")
      // every chunk except the last is exactly `size` chars
      chunks.dropRight(1).foreach(c => assert(c.length == size))
      assert(chunks.isEmpty || chunks.last.nonEmpty || text.isEmpty)
    }
  }

  test("property: bm25 never returns an unmatched doc; ranks are 1..k dense") {
    import graft.ops.Retrieval
    val docGen: Gen[List[String]] = for {
      n <- Gen.choose(2, 25)
      docs <- Gen.listOfN(n, Gen.listOf(
        Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox")).map(_.mkString(" ")))
    } yield docs
    samples(docGen, 8).foreach { docsList =>
      val docs = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val qs = Seq((1L, "cat dog"), (2L, "zzz")).toDF("qid", "qtext")
      val res = Retrieval.bm25Search(docs, "doc_id", "text", qs, "qid", "qtext", topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val matched = docsList.zipWithIndex.collect {
        case (t, i) if t.split("\\s+").exists(Set("cat", "dog")) => i.toLong
      }.toSet
      val returned = res.filter(_._1 == 1L)
      assert(returned.map(_._3).toSet.subsetOf(matched))
      assert(returned.map(_._2).sorted.toSeq == (1L to returned.length).toSeq)
      // a query with no corpus hits returns nothing
      assert(!res.exists(_._1 == 2L))
    }
  }

  test("property: string-heap top-k equals the window formulation on random data") {
    import graft.ops.GroupTopK
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("en", "de", "fr")
        key <- Gen.oneOf("aa", "ab", "b", "ba", "zz", "\u00e9", "x y")
        s <- Gen.choose(0, 5).map(_ * 1.5)
      } yield (g, key, s))
    } yield rows
    samples(gen, 6).foreach { data =>
      // pre-aggregate so (g, key) is unique, like a counted frame
      val df = data.toDF("g", "key", "s").groupBy("g", "key").agg(max("s").as("s"))
      val k = 2
      val viaHeap = GroupTopK.topKPerGroupString(df, Seq("g"), "key", "s", k)
        .select("g", "rank", "key", "s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("s").desc, col("key").asc)
      val viaWindow = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("g", "rank", "key", "s").collect()
        .map(r => (r.getString(0), r.getInt(1).toLong, r.getString(2), r.getDouble(3))).toSet
      assert(viaHeap == viaWindow)
    }
  }

  test("property: frequentNgrams equals the exact thresholded count at any width") {
    import graft.ops.Retrieval
    val gen = for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("en", "de")
        nw <- Gen.choose(0, 8)
        ws <- Gen.listOfN(nw, Gen.oneOf("a", "b", "c", "d"))
      } yield (g, ws.mkString(" ")))
    } yield rows.zipWithIndex.map { case ((g, t), i) => (i.toLong, g, t) }
    samples(gen, 5).foreach { data =>
      val df = data.toDF("doc_id", "lang", "text")
      val exact = Retrieval.topNgrams(df, "text", "lang", n = 2, k = 1000)
        .filter(col("cnt") >= 2)
        .select("lang", "ngram", "cnt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      for (width <- Seq(2, 64)) {
        val got = Retrieval.frequentNgrams(df, "text", "lang", n = 2,
            minCount = 2, depth = 2, width = width)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        assert(got == exact, s"width $width diverged")
      }
    }
  }

  test("property: adaptiveSaltedJoin equals the plain join on random skewed data") {
    import graft.ops.Salting
    val gen = for {
      nl <- Gen.choose(1, 50)
      left <- Gen.listOfN(nl, for {
        k <- Gen.frequency(5 -> Gen.const(1L), 3 -> Gen.choose(2L, 6L))
        v <- Gen.choose(0, 100)
      } yield (k, v))
      nr <- Gen.choose(0, 10)
      right <- Gen.listOfN(nr, for {
        k <- Gen.choose(1L, 8L)
        p <- Gen.choose(0, 9)
      } yield (k, p))
    } yield (left, right)
    samples(gen, 5).foreach { case (l, r) =>
      val left = l.toDF("k", "lv")
      val right = r.toDF("k", "rv")
      val a = Salting.adaptiveSaltedJoin(left, right, Seq("k"),
          buckets = 3, hotThreshold = 4)
        .collect().map(_.toString).sorted.toSeq
      val p2 = left.join(right, Seq("k"), "inner")
        .collect().map(_.toString).sorted.toSeq
      assert(a == p2)
    }
  }

  test("property: snapshotDiff classification matches a brute-force reference") {
    import graft.ops.Snapshot
    val rowGen = for {
      n <- Gen.choose(0, 15)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 10L)
        v <- Gen.option(Gen.oneOf("x", "y", "z"))
      } yield (k, v))
    } yield rows.groupBy(_._1).map(_._2.head).toList // unique keys
    val gen = Gen.zip(rowGen, rowGen)
    samples(gen, 6).foreach { case (p, c) =>
      val prev = p.toDF("k", "v")
      val cur = c.toDF("k", "v")
      val got = Snapshot.snapshotDiff(prev, cur, Seq("k"), Seq("v"))
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
      val pm = p.toMap; val cm = c.toMap
      val want = ((pm.keySet ++ cm.keySet).flatMap { k =>
        (pm.get(k), cm.get(k)) match {
          case (None, Some(_)) => Some(k -> "added")
          case (Some(_), None) => Some(k -> "removed")
          case (Some(a), Some(b)) if a != b => Some(k -> "changed")
          case _ => None
        }
      }).toMap
      assert(got == want, s"prev=$pm cur=$cm")
    }
  }

  test("property: SCD2 history matches a brute-force run-length reference; apply == rebuild") {
    import graft.ops.Snapshot
    val obsGen = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 6L)
        v <- Gen.option(Gen.oneOf("x", "y", "z"))
        ts <- Gen.choose(0L, 12L)
      } yield (k, v, ts))
    } yield rows.zipWithIndex.map { case ((k, v, ts), i) =>
      (k, v, ts, i.toLong) // unique tie
    }
    samples(obsGen, 6).foreach { obs =>
      val df = obs.toDF("k", "v", "ts", "tie")
      val got = Snapshot.scd2History(df, Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("version")) ->
          ((Option(r.getAs[String]("v")), r.getAs[Long]("valid_from"),
            Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long]),
            r.getAs[Long]("last_obs"), r.getAs[Long]("n_obs"),
            r.getAs[Boolean]("is_current")))).toMap
      // brute force: sort each key's stream, split into value runs
      val want = obs.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._4))
        val runs = sorted.foldLeft(Vector.empty[Vector[(Long, Option[String], Long)]]) {
          (acc, r) =>
            val cell = (r._1, r._2, r._3)
            if (acc.nonEmpty && acc.last.head._2 == r._2) acc.init :+ (acc.last :+ cell)
            else acc :+ Vector(cell)
        }
        runs.zipWithIndex.map { case (run, i) =>
          val from = run.map(_._3).min
          val to = if (i + 1 < runs.size) Some(runs(i + 1).map(_._3).min) else None
          (k, (i + 1).toLong) ->
            ((run.head._2, from, to, run.map(_._3).max, run.size.toLong, to.isEmpty))
        }
      }.toMap
      assert(got == want, s"history diverged for obs=$obs")
      // increment == rebuild at an arbitrary split (late data excluded by
      // construction: split on ts, ties cannot straddle the boundary)
      val split = 6L
      val hist = Snapshot.scd2History(df.filter(col("ts") < split),
        Seq("k"), Seq("v"), col("ts"), "tie")
      val inc = Snapshot.scd2Apply(hist, df.filter(col("ts") >= split),
          Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      val full = Snapshot.scd2History(df, Seq("k"), Seq("v"), col("ts"), "tie")
        .collect().map(_.toString).sorted.toSeq
      assert(inc == full, s"apply diverged from rebuild for obs=$obs")
    }
  }

  test("property: rankingMetrics equals an in-memory brute force on random runs/qrels") {
    import spark.implicits._
    import graft.ops.RankEval
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val nq = 6
      // random run: each query ranks a random doc subset
      val run = (1 to nq).flatMap { q =>
        val docs = rnd.shuffle((1L to 30L).toVector).take(rnd.nextInt(12) + 1)
        docs.zipWithIndex.map { case (d, i) => (q.toLong, d, i + 1) }
      }
      // random qrels: unique (q, doc), grades 0..3
      val qrels = (1 to nq).flatMap { q =>
        rnd.shuffle((1L to 30L).toVector).take(rnd.nextInt(10))
          .map(d => (q.toLong, d, rnd.nextInt(4)))
      }
      val k = 5
      val got = byKey(RankEval.rankingMetrics(
        run.toDF("qid", "doc", "rank"), qrels.toDF("qid", "doc", "rel"),
        "qid", "doc", "rank", "rel", k), "qid")
      def log2(x: Double) = math.log(x) / math.log(2.0)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pos = qrels.filter(_._3 > 0).groupBy(_._1)
        .map { case (q, g) => q -> g.map(t => t._2 -> t._3.toLong).toMap }
      val allQ = (run.map(_._1) ++ qrels.filter(_._3 > 0).map(_._1)).distinct
      for (q <- allQ) {
        val row = got(q)
        val judged = pos.getOrElse(q, Map.empty)
        val topk = run.filter(r => r._1 == q && r._3 <= k).sortBy(_._3)
        val hits = topk.filter(r => judged.contains(r._2))
        assert(row.getAs[Long]("n_judged") == judged.size.toLong, s"seed=$seed q=$q")
        assert(row.getAs[Long]("n_retrieved") == topk.size.toLong)
        assert(row.getAs[Long]("n_hits") == hits.size.toLong)
        assert(row.getAs[Double]("precision_r") == r6(hits.size.toDouble / k))
        if (judged.isEmpty) {
          assert(row.isNullAt(row.fieldIndex("ndcg_r")) &&
            row.isNullAt(row.fieldIndex("mrr_r")), s"seed=$seed q=$q")
        } else {
          val mrr = hits.headOption.map(h => r6(1.0 / h._3)).getOrElse(0.0)
          assert(row.getAs[Double]("mrr_r") == mrr, s"seed=$seed q=$q mrr")
          assert(row.getAs[Double]("recall_r") ==
            r6(hits.size.toDouble / judged.size), s"seed=$seed q=$q recall")
          // the brute nDCG replays the same fold orders
          val dcg = topk.foldLeft(0.0) { (acc, r) =>
            acc + judged.getOrElse(r._2, 0L).toDouble / log2(r._3 + 1.0)
          }
          // ideal truncated at k — the TREC nDCG@k definition
          val idcg = judged.toSeq.sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
            .foldLeft(0.0) { case (acc, ((_, g), i)) => acc + g.toDouble / log2(i + 2.0) }
          assert(row.getAs[Double]("ndcg_r") == r6(dcg / idcg), s"seed=$seed q=$q ndcg")
          // AP@k: P@r at each hit in rank order, divided by ALL judged
          val apNum = hits.zipWithIndex.foldLeft(0.0) { case (acc, (h, i)) =>
            acc + (i + 1).toDouble / h._3.toDouble
          }
          assert(row.getAs[Double]("map_r") == r6(apNum / judged.size),
            s"seed=$seed q=$q map")
        }
      }
    }
  }

  test("property: dawidSkenePosteriors sums to 1 with the hard winner on top, any corpus") {
    import spark.implicits._
    import graft.ops.Judges
    for (seed <- Seq(7, 123)) {
      val rnd = new scala.util.Random(seed)
      val labels = Seq("a", "b", "c")
      val votes = (1L to 25L).flatMap { item =>
        rnd.shuffle((1 to 6).toVector).take(rnd.nextInt(4) + 2)
          .map(j => (item, s"j$j", labels(rnd.nextInt(3))))
      }.toDF("item", "judge", "label")
      val hard = byKey(Judges.dawidSkene(votes, "item", "judge", "label"), "item")
      val post = Judges.dawidSkenePosteriors(votes, "item", "judge", "label")
        .collect().groupBy(_.getAs[Long]("item"))
      assert(post.keySet == (1L to 25L).toSet)
      post.foreach { case (item, rows) =>
        assert(rows.length == labels.size, s"seed=$seed item=$item row count")
        val ps = rows.map(_.getAs[Double]("posterior_r"))
        assert(ps.forall(p => p > 0.0 && p <= 1.0), s"seed=$seed item=$item range")
        assert(math.abs(ps.sum - 1.0) <= 3e-6, s"seed=$seed item=$item sum=${ps.sum}")
        val marked = rows.filter(_.getAs[Boolean]("is_consensus"))
        assert(marked.length == 1)
        assert(marked.head.getAs[String]("label") ==
          hard(item).getAs[String]("consensus"), s"seed=$seed item=$item winner")
        assert(marked.head.getAs[Double]("posterior_r") == ps.max)
      }
    }
  }

  test("property: multi-way shard appends equal the write-once export, any split") {
    import spark.implicits._
    import graft.io.Layout
    for (seed <- Seq(3, 81)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1L to 120L).map(i => (i, s"p-$i"))
      // random 3-way split, first slice written, the rest appended
      val tagged = rows.map(r => (rnd.nextInt(3), r))
      val out = tempDir(s"graft-app-$seed")
      Layout.writeShardsWithManifest(
        tagged.filter(_._1 == 0).map(_._2).toDF("id", "payload"),
        "id", out, numShards = 4, salt = s"s$seed")
      for (slice <- 1 to 2)
        Layout.appendShardsWithManifest(
          tagged.filter(_._1 == slice).map(_._2).toDF("id", "payload"), out)
      val ref = tempDir(s"graft-ref-$seed")
      Layout.writeShardsWithManifest(rows.toDF("id", "payload"),
        "id", ref, numShards = 4, salt = s"s$seed")
      def manifest(p: String) = spark.read.parquet(s"$p/manifest")
        .select("shard", "n_rows", "id_checksum").collect().map(_.toSeq).toSet
      assert(manifest(out) == manifest(ref), s"seed=$seed manifest")
      assert(Layout.verifyShards(spark, out).collect()
        .forall(_.getAs[Boolean]("ok")), s"seed=$seed verify")
      assert(spark.read.parquet(s"$out/data").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq == (1L to 120L), s"seed=$seed rows")
    }
  }

  test("property: lengthBucketedBatches equals the in-memory sort on random shards") {
    import spark.implicits._
    import graft.ops.Packing
    for (seed <- Seq(5, 63)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 80L).map(i => (i, s"s${rnd.nextInt(4)}", rnd.nextInt(50).toLong))
      val bs = rnd.nextInt(6) + 2
      val got = Packing.lengthBucketedBatches(
        docs.toDF("id", "shard", "len").repartition(9), "id", "len", "shard", bs)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("batch_idx")).toMap
      val want = docs.groupBy(_._2).flatMap { case (_, g) =>
        g.sortBy(t => (-t._3, t._1)).zipWithIndex
          .map { case ((id, _, _), i) => id -> (i / bs).toLong }
      }
      assert(got == want, s"seed=$seed batchSize=$bs")
    }
  }
}
