package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based cross-checks of the kernel helpers against
  * straightforward reference implementations — the kernels are
  * hand-rolled loops (merge scans, rolling folds, bit votes), exactly
  * the code shape where off-by-ones hide. Pure JVM: hundreds of cases
  * per property in milliseconds. Only the model-collect guards at the
  * end touch the shared Spark session, since the models those kernels
  * fold are collected from DataFrames.
  */
class KernelPropertySpec extends graft.SparkSpec {

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"$name: $res")
  }

  test("SortedArrayJaccard equals set-based Jaccard on sorted distinct arrays") {
    val gen = Gen.listOf(Gen.chooseNum(-50L, 50L))
    check("jaccard", Prop.forAll(gen, gen) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      val got = SortedArrayJaccard.compute(
        ArrayData.toArrayData(sa.toArray), ArrayData.toArrayData(sb.toArray))
      val inter = sa.toSet.intersect(sb.toSet).size
      val union = sa.toSet.union(sb.toSet).size
      val want = if (union == 0) 0.0 else inter.toDouble / union
      got == want
    })
  }

  test("RollingHash matches a BigInt reference fold and stays in [0, P)") {
    val P = BigInt(1000000007L)
    check("rolling", Prop.forAll(Gen.asciiPrintableStr) { s =>
      val got = RollingHash.compute(UTF8String.fromString(s))
      val want = s.foldLeft(BigInt(0))((h, c) => (h * 131 + c.toInt) mod P)
      got == want.toLong && got >= 0L && got < 1000000007L
    })
  }

  test("SimHashBits sets only the requested bits; majority vote per bit") {
    val gen = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check("simhash", Prop.forAll(gen) { xs =>
      val got = SimHashBits.compute(ArrayData.toArrayData(xs.toArray), 16)
      val wantBits = (0 until 16).map { b =>
        val votes = xs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << b else 0L
      }.sum
      (got >>> 16) == 0L && got == wantBits
    })
  }

  test("Md5Prefix60 equals the hex-prefix reference for arbitrary bytes") {
    check("md5prefix", Prop.forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      val bytes = bs.toArray
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString.substring(0, 15)
      Md5Prefix60.compute(bytes) == java.lang.Long.parseLong(hex, 16)
    })
  }

  test("WordShingleHashes output is sorted, distinct, bounded, in [0, P)") {
    // n range straddles the fold's div-free (≤5) and per-step-mod (>5)
    // paths, so the invariants are pinned on both
    val tok = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
    check("shingles", Prop.forAll(Gen.listOf(tok), Gen.chooseNum(1, 12)) { (toks, n) =>
      val arr = ArrayData.toArrayData(toks.map(UTF8String.fromString).toArray)
      val out = WordShingleHashes.compute(arr, n).toIntArray().toSeq
      val expectedMax = math.max(toks.size - n + 1, 1)
      out == out.sorted && out.distinct == out &&
        out.size <= expectedMax && out.nonEmpty &&
        out.forall(h => h >= 0 && h < 1000000007)
    })
  }

  test("MinHashBands: every key equals the per-band reference mins") {
    val P = 1000000007L
    val elem = Gen.chooseNum(0L, P - 1)
    val params = for {
      rpb <- Gen.oneOf(1, 2, 4)
      bands <- Gen.chooseNum(1, 4)
    } yield (bands * rpb, rpb)
    check("minhashbands", Prop.forAll(Gen.listOf(elem), params) {
      case (xs, (k, rpb)) =>
        val got = MinHashBands.compute(ArrayData.toArrayData(xs.toArray), k, rpb)
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
        val mins = (0 until k).map(i =>
          xs.map(h => (h * (2L * i + 1) + (7919L * i + 13)) % P)
            .minOption)
        val want = (0 until k / rpb).map { b =>
          (b.toString +: (0 until rpb).flatMap(r =>
            mins(b * rpb + r).map(_.toString))).mkString(":")
        }
        got == want
    })
  }

  test("MinHashBands reduces out-of-domain bigint elements mod P first") {
    // The SQL surface (graft_minhash_bands) accepts caller-supplied
    // bigint arrays; elements outside [0, P) are floorMod-reduced
    // before the affine map, so keys are total (never negative) and
    // equal those of the pre-reduced input.
    val P = 1000000007L
    val elem = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    check("minhashbands-oob", Prop.forAll(Gen.listOf(elem)) { xs =>
      val got = MinHashBands.compute(ArrayData.toArrayData(xs.toArray), 4, 2)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val reduced = xs.map(h => java.lang.Math.floorMod(h, P))
      val want = MinHashBands.compute(ArrayData.toArrayData(reduced.toArray), 4, 2)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      got == want && got.forall(!_.contains("-"))
    })
  }

  test("HyperplaneSignBits equals a plain fold over each plane") {
    val vec = Gen.listOfN(8, Gen.chooseNum(-4.0f, 4.0f))
    val planes = graft.operators.Similarity.hyperplanes(13, 8)
    val pm = planes.map(_.toArray).toArray
    check("signbits", Prop.forAll(vec) { v =>
      val got = HyperplaneSignBits.compute(
        ArrayData.toArrayData(v.toArray), pm, isFloat = true)
      val want = planes.zipWithIndex.map { case (p, h) =>
        val dot = v.zip(p).foldLeft(0.0) { case (a, (x, c)) => a + x.toDouble * c }
        if (dot >= 0) 1L << h else 0L
      }.sum
      got == want
    })
  }

  test("PQ kernels equal a functional reference: argmin encode, " +
      "reconstruction norm and ADC dot as plain folds") {
    val geom = for {
      m <- Gen.chooseNum(1, 3)
      dsub <- Gen.chooseNum(1, 4)
      ksub <- Gen.chooseNum(1, 4)
      books <- Gen.listOfN(m,
        Gen.listOfN(ksub, Gen.listOfN(dsub, Gen.chooseNum(-3.0, 3.0))))
      vec <- Gen.listOfN(m * dsub, Gen.chooseNum(-3.0, 3.0))
    } yield (books.map(_.map(_.toSeq).toSeq).toSeq, vec)
    check("pq", Prop.forAll(geom) { case (books, vec) =>
      val bm = books.map(_.map(_.toArray).toArray).toArray
      val dsub = books.head.head.size
      val codes = PqCompute.encode(
        ArrayData.toArrayData(vec.toArray), bm, isFloat = false)
      val wantCodes = books.zipWithIndex.map { case (cb, sub) =>
        val slice = vec.slice(sub * dsub, (sub + 1) * dsub)
        cb.zipWithIndex.minBy { case (c, code) =>
          // (d2, code) min ≡ strict-< first-wins argmin
          (slice.zip(c).foldLeft(0.0) { case (a, (x, y)) =>
            a + (x - y) * (x - y) }, code)
        }._2
      }
      val codesSeq = codes.toIntArray().toSeq
      val recon = codesSeq.zipWithIndex.flatMap { case (c, sub) => books(sub)(c) }
      val rn = PqCompute.reconNormSq(codes, bm)
      val wantRn = recon.foldLeft(0.0)((a, x) => a + x * x)
      val adc = PqCompute.adcDot(
        ArrayData.toArrayData(vec.toArray), codes, bm, isFloat = false)
      val wantAdc = vec.zip(recon).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      codesSeq == wantCodes && rn == wantRn && adc == wantAdc
    })
  }

  test("LineStats matches a collections-based reference on random line soup") {
    val piece = Gen.oneOf(
      Gen.oneOf("a", "bb", "line one", "- item", "* x", "end...", "…",
        "###", "  spaced  ", "", "with words here."),
      Gen.asciiPrintableStr.map(_.take(12)))
    val gen = Gen.listOf(piece).map(_.mkString("\n"))
    check("linestats", Prop.forAll(gen) { s =>
      val got = LineStats.compute(UTF8String.fromString(s))
      val lines = s.split("\n", -1).toSeq
      val mult = lines.groupBy(identity).map { case (k, v) => k -> v.size }
      def trimSp(x: String) =
        x.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val trimmed = trimSp(s)
      val toks = if (trimmed.isEmpty) Array.empty[String]
        else trimmed.split("\\s+", -1)
      val symRef = s.count(_ == '#') + s.count(_ == '…') +
        java.util.regex.Pattern.compile("\\.\\.\\.").matcher(s)
          .results().count().toInt
      got.getInt(0) == lines.size &&
        got.getInt(1) == lines.count(mult(_) > 1) &&
        got.getInt(2) == lines.filter(mult(_) > 1)
          .map(l => l.codePointCount(0, l.length)).sum &&
        got.getInt(3) == lines.map(l => l.codePointCount(0, l.length)).sum &&
        got.getInt(4) == lines.map(trimSp).count(l =>
          l.nonEmpty && "-*•".contains(l.head)) &&
        got.getInt(5) == lines.map(trimSp).count(l =>
          l.endsWith("…") || l.endsWith("...")) &&
        got.getInt(6) == toks.count(_.exists(Character.isLetter)) &&
        got.getInt(7) == symRef
    })
  }

  test("LangGuess: CJK wins outright, empty is und, decision is total") {
    check("langguess", Prop.forAll(Gen.asciiPrintableStr) { s =>
      val out = LangGuess.compute(s)
      Set("en", "es", "fr", "de", "zh", "und").contains(out)
    })
    assert(LangGuess.compute("") == "und")
    assert(LangGuess.compute("无论 the and of to") == "zh")
  }

  /** The model is rejected before any kernel runs, with a message
    * naming the operator and the NULL column.
    */
  private def assertRejects(msg: String)(run: => Any): Unit = {
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(msg), s"expected '$msg', got: ${e.getMessage}")
  }

  test("LangGramHits model collect rejects NULL lang, gram and n rows") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val ok = (Option("en"), Option("hel"), Option(1L))
    def classify(rows: (Option[String], Option[String], Option[Long])*) =
      graft.operators.CorpusStats.langClassifyWith(docs, "doc_id", "text",
        rows.toDF("lang", "gram", "n"))
    assertRejects("langClassifyWith: model column lang is NULL")(
      classify(ok, (None, Some("wor"), Some(1L))))
    assertRejects("langClassifyWith: model column gram is NULL")(
      classify(ok, (Some("en"), None, Some(1L))))
    assertRejects("langClassifyWith: model column n is NULL")(
      classify(ok, (Some("en"), Some("wor"), None)))
    assertRejects("langClassifyWith: model column n is NULL")(
      classify((Some("en"), Some("hel"), None)))
  }

  test("CountMinEstimate sketch collect rejects NULL d, bucket and n rows") {
    val s = spark
    import s.implicits._
    val probes = Seq("alpha").toDF("token")
    def estimate(row: (Option[Int], Option[Long], Option[Long])) =
      graft.operators.CorpusStats.countMinEstimateWith(probes, "token",
        Seq(row).toDF("d", "bucket", "n"), 2, 4)
    assertRejects("countMinEstimateWith: sketch column d is NULL")(
      estimate((None, Some(1L), Some(3L))))
    assertRejects("countMinEstimateWith: sketch column bucket is NULL")(
      estimate((Some(0), None, Some(3L))))
    assertRejects("countMinEstimateWith: sketch column n is NULL")(
      estimate((Some(0), Some(1L), None)))
  }

  test("DsirMass model collect rejects a NULL bucket row") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    assertRejects("dsirWeightsWith: model column bucket is NULL")(
      graft.operators.Sampling.dsirWeightsWith(docs, "doc_id", "text",
        Seq((Option(1L), 2L, 3L), (None, 1L, 1L))
          .toDF("bucket", "tgt_n", "raw_n"), buckets = 16))
  }
}
