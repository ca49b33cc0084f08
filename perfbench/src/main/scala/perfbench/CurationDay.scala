package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Bpe, CorpusStats, Curation, Packing, Sampling}
import graft.streaming.StatsMaintenance

/** Seeded documents for `curation_day`.
  *
  * Word ranks are Zipf(1.07) over a vocabulary that grows with the
  * corpus by Heaps' law, V = 20·√T over the T tokens generated so far
  * (the shape of `tools/gen_sf.py`'s `GEN_VOCAB=zipf`). Words are
  * syllable strings, so the tokenizer has merges to learn. A document
  * is 3-8 lines of 6-14 words ending in a full stop. A raw day also
  * carries what curation removes: two boilerplate lines shared by many
  * documents, menu lines without a full stop, two-line documents, exact
  * copies and near copies (one word changed) of earlier documents.
  */
final class DocGen(seed: Long) {
  import DocGen._
  private val g = new Gen(seed)
  private val zipf = new Zipf(MaxVocab, 1.07)
  private var tokens = 0L

  private def word(rank: Int): String = {
    // an odd multiplier permutes the ranks, so frequency and spelling
    // are unrelated
    var x = ((rank.toLong * 40503L) & (MaxVocab - 1)) + Syllables.size
    val sb = new StringBuilder
    while (x > 0) { sb ++= Syllables((x % Syllables.size).toInt); x /= Syllables.size }
    sb.toString
  }

  private def line(): String = {
    val n = 6 + g.int(9)
    tokens += n
    val vocab = math.min(MaxVocab, math.max(64, (20 * math.sqrt(tokens.toDouble)).toInt))
    (0 until n).map(_ => word(zipf.sampleBelow(g, vocab))).mkString(" ") + "."
  }

  private def doc(lines: Int): String = Seq.fill(lines)(line()).mkString("\n")

  /** One day of `(doc_id, source, text)`; a clean day has only plain documents. */
  def day(d: Int, n: Int, clean: Boolean): IndexedSeq[(Long, String, String)] = {
    val out = mutable.ArrayBuffer.empty[(Long, String, String)]
    (0 until n).foreach { k =>
      val id = d * 1000000L + k
      val src = s"src${g.int(8)}"
      val u = g.double()
      val text =
        if (clean) doc(3 + g.int(6))
        else if (k > 0 && u < 0.03) out(g.int(out.size))._3 // exact copy
        else if (k > 0 && u < 0.06) { // near copy: one word changed
          val lines = out(g.int(out.size))._3.split("\n")
          val j = g.int(lines.length)
          val ws = lines(j).split(" ")
          ws(g.int(ws.length - 1)) = word(g.int(64)) // not the last word, which ends the line
          lines(j) = ws.mkString(" ")
          lines.mkString("\n")
        } else if (u < 0.08) doc(2) // too few lines
        else {
          val body = mutable.ArrayBuffer(doc(3 + g.int(6)))
          if (g.chance(0.3)) body.prepend(Boilerplate(0))
          if (g.chance(0.2)) body += Boilerplate(1)
          if (g.chance(0.2)) body.insert(1, "home | about | contact")
          body.mkString("\n")
        }
      out += ((id, src, text))
    }
    out.toIndexedSeq
  }
}

object DocGen {
  val MaxVocab: Int = 1 << 17
  private val Syllables = IndexedSeq("ka", "to", "ri", "ne", "mo", "lu", "sa", "pe",
    "di", "go", "fa", "zu", "bi", "he", "co", "vy")
  val Boilerplate = IndexedSeq("subscribe to our newsletter today for weekly offers.",
    "all rights reserved by the owner of this site.")
}

/** `curation_day`: the daily training-data job, through the program's
  * public operators.
  *
  * Set-up builds what the previous day left: a curated day-0 drop, the
  * tokenizer trained on it and published, and the four maintained
  * stats tables folded over it. A day (one operation) curates the new
  * raw day ([[Curation.curateStaged]]: C4 rules, line dedup, exact and
  * near dedup, packing) into the drop, encodes it under the published
  * tokenizer and packs the ids into context bins
  * ([[Bpe.encodeWordIds]] → [[Packing.binIdSequencesEncoded]]), then
  * folds the day into the four stats tables ([[StatsMaintenance.start]]
  * on a file-source stream over the drop, restarted per day like a
  * daily job). The day's raw file is written before the clock starts.
  */
final class CurationDay(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val DocsPerDay = 1500
  private val Merges = 300
  private val Budget = 512
  private val Shards = 4

  override val opsPerRound: Int = 1 // a day
  /** One day: the first use of every operator. */
  override val warmUpOps: Int = 1
  /** Days in a run: about `seconds` worth on a 4-core box. */
  override def opsFor(seconds: Double): Int = math.max(3, math.round(seconds / 3.0).toInt)

  private val curatedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("clean_text", StringType)))

  /** The four maintained shapes over the curated text: name, keys,
    * counts, partial of a batch.
    */
  private val shapes = Seq[(String, Seq[String], Seq[String], DataFrame => DataFrame)](
    ("line", Seq("line_key"), Seq("line_df"),
      b => CorpusStats.lineDf(b, "doc_id", "clean_text")),
    ("token", Seq("token"), Seq("token_df"),
      b => CorpusStats.tokenDf(b, "doc_id", "clean_text")),
    ("bigram", Seq("w1", "bg"), Seq("n"),
      b => CorpusStats.bigramCounts(b, "doc_id", "clean_text")),
    ("dsir", Seq("bucket"), Seq("tgt_n", "raw_n"),
      b => Sampling.dsirModel(b, "doc_id", "clean_text",
        pmod(col("doc_id"), lit(3L)) === 0L, buckets = 1024)))

  private var docs: DocGen = _
  private var dir: Path = _
  private var lastDay = 0
  private var inputDocs = 0L
  private var keptDocs = 0L

  private def path(p: String): String = dir.resolve(p).toString

  private def fold(): Unit = {
    val queries = shapes.map { case (name, keys, counts, partialOf) =>
      StatsMaintenance.start(
        spark.readStream.schema(curatedSchema).option("maxFilesPerTrigger", "1")
          .parquet(path("drop/day*")),
        path(s"stores/$name"), keys, counts, partialOf, path(s"ckpt/$name"))
    }
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
  }

  override def setup(rep: Int): Unit = {
    dir = work.resolve(s"curation-$rep")
    docs = new DocGen(seed)
    val day0 = docs.day(0, DocsPerDay, clean = true)
    spark.createDataFrame(day0.map { case (id, _, t) => Row(id, t) }.asJava, curatedSchema)
      .coalesce(1).write.parquet(path("drop/day0"))
    val text = spark.read.parquet(path("drop/day0")).withColumnRenamed("clean_text", "text")
    val merges = Bpe.trainMergesLocal(text, "text", Merges)
    Bpe.saveTokenizerVersioned(spark, merges, Bpe.vocab(text, "text", merges), path("tokenizer"))
    fold()
    lastDay = 0
    inputDocs = 0L
    keptDocs = 0L
  }

  override def op(i: Int): Op = {
    val day = i + 1
    val raw = docs.day(day, DocsPerDay, clean = false)
    spark.createDataFrame(raw.map { case (id, s, t) => Row(id, s, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType))))
      .coalesce(1).write.parquet(path(s"raw/day$day"))

    val t0 = System.nanoTime()
    Trace.span("bench.day") {
      Trace.span("operators.curate") {
        val staged = Curation.curateStaged(spark.read.parquet(path(s"raw/day$day")),
          "doc_id", "text", "source", Map.empty, budget = Budget, nShards = Shards,
          lineDedupMaxDf = Some(10), persistStages = true)
        try staged.result.select("doc_id", "clean_text").coalesce(1).write
          .parquet(path(s"drop/day$day"))
        finally staged.close()
      }
      val words = Trace.span("operators.encode") {
        val (merges, vocab) = Bpe.loadTokenizerVersioned(spark, path("tokenizer"))
        Bpe.encodeWordIds(spark.read.parquet(path(s"drop/day$day")), "doc_id", "clean_text",
          merges, vocab)
      }
      // the encode runs inside the packing job (the fused form)
      Trace.span("operators.pack") {
        Packing.binIdSequencesEncoded(words, "doc_id", Budget, Shards).write
          .parquet(path(s"bins/day$day"))
      }
      Trace.span("streaming.fold") { fold() }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    lastDay = day

    // checks: packed id mass equals encoded id mass; every table folded the day
    val problems = mutable.ArrayBuffer.empty[String]
    val curated = spark.read.parquet(path(s"drop/day$day"))
    val (merges, vocab) = Bpe.loadTokenizerVersioned(spark, path("tokenizer"))
    val encoded = Bpe.encodeWordIds(curated, "doc_id", "clean_text", merges, vocab)
      .agg(coalesce(sum(size(col("__ids"))), lit(0L))).head().getLong(0)
    val packed = spark.read.parquet(path(s"bins/day$day"))
      .agg(coalesce(sum(col("n_ids")), lit(0L))).head().getLong(0)
    if (packed != encoded) problems += s"day $day: packed $packed ids, encoded $encoded"
    shapes.foreach { case (name, _, _, _) =>
      val wm = StatsMaintenance.lastFolded(spark, path(s"stores/$name"))
      if (!wm.contains(day.toLong)) problems += s"day $day: $name folded up to $wm"
    }
    if (i >= warmUpOps) {
      inputDocs += raw.size
      keptDocs += curated.count()
    }
    Op(secs, raw.size, problems.toSeq)
  }

  /** Every maintained table equals a recompute over all curated days. */
  override def finish(): Seq[String] = {
    val all = spark.read.parquet((0 to lastDay).map(d => path(s"drop/day$d")): _*)
    shapes.flatMap { case (name, _, _, partialOf) =>
      val recompute = partialOf(all)
      StatsMaintenance.readStats(spark, path(s"stores/$name")) match {
        case None => Seq(s"$name: no maintained table")
        case Some(kept) =>
          val onlyKept = kept.except(recompute).count()
          val onlyRecomputed = recompute.except(kept).count()
          if (onlyKept + onlyRecomputed == 0) Nil
          else Seq(s"$name: $onlyKept rows only maintained, $onlyRecomputed only recomputed")
      }
    }
  }

  override def layers(): Map[String, Double] = Map(
    "operators.curate_s" -> Trace.total("operators.curate"),
    "operators.encode_s" -> Trace.total("operators.encode"),
    "operators.pack_s" -> Trace.total("operators.pack"),
    "operators.keep_ratio" -> (if (inputDocs == 0) 0.0 else keptDocs.toDouble / inputDocs),
    "streaming.fold_s" -> Trace.total("streaming.fold"),
    "streaming.store_rows" -> shapes.map { case (name, _, _, _) =>
      StatsMaintenance.readStats(spark, path(s"stores/$name")).map(_.count()).getOrElse(0L)
    }.sum.toDouble)

  override def close(): Unit = ()
}
