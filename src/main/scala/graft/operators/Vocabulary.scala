package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus VOCABULARY building and out-of-vocabulary scoring — the
  * tokenizer-prep surface of a training pipeline: fix a top-V token
  * vocabulary from the corpus (or a reference slice), then measure every
  * document's OOV rate against it. High-OOV documents are wrong-language,
  * encoding-mangled, or domain-alien — the third quality axis next to
  * the formula score (q22) and the LM rarity (q75), and the number that
  * sizes an `<unk>` budget before training.
  *
  * Determinism: the vocabulary is a pure function of the corpus — top V
  * by count with ties broken by the token string — and OOV rates are
  * integer permille (the q34 discipline), so both are bit-reproducible
  * across engines and runs.
  *
  * Scale shape: token counts are one partial-aggregated hash aggregate
  * (the hot token collapses map-side); the global top-V is a
  * `TakeOrderedAndProject` — per-partition bounded heaps merged at the
  * driver-side limit, NEVER a full corpus-wide sort (the same no-Window
  * argument as balanced sampling, realized by Catalyst's sort+limit
  * rewrite). Scoring broadcasts the V-row vocabulary and the corpus
  * never shuffles until the per-document aggregate.
  */
object Vocabulary {

  /** The top-`v` tokens by occurrence count: `(tok, tf, rank)` —
    * rank 1..v by (count desc, token asc).
    */
  def build(docs: DataFrame, v: Int, textCol: String = "text"): DataFrame = {
    require(v > 0, s"need v > 0, got $v")
    docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(v)
      .select(
        col("tok"),
        col("tf"),
        // rank re-derived deterministically from the same (tf, tok) order
        row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy(col("tf").desc, col("tok")))
          .cast("long")
          .as("rank")
      )
  }

  /** Symbol separator inside the BPE fold's accumulator string — U+001F
    * (unit separator). Symbols must not contain it; real tokenizer
    * corpora pre-normalize control characters out (and
    * `TextFunctions.normalize` is the engine's step for that).
    */
  val BpeSep = "\u001f"

  /** Distributed BPE MERGE TRAINING — the byte-pair-encoding trainer's
    * core loop (Sennrich et al. 2016), the step between [[build]]'s raw
    * vocabulary and an actual subword tokenizer: repeatedly find the
    * most frequent adjacent symbol pair across the corpus and fuse it.
    * Returns the merge table `(merge_idx, left, right, pair_count)` —
    * `nMerges` rows, the artifact a tokenizer ships.
    *
    * Scale shape — the classic trainer trick, Spark-realized: the corpus
    * is read ONCE, into the WORD-FREQUENCY table (one partial-aggregated
    * hash aggregate; distinct words, not occurrences). Every merge round
    * then runs on that bounded table: adjacent-pair counts weighted by
    * word frequency (explode + hash agg with map-side partials), a
    * driver-side argmax of one row (count desc, then pair — the
    * deterministic tie-break), and one scan applying the merge. The loop
    * is driver-iterated like the Lloyd trainers, with the word table
    * localCheckpoint-ed per round so round r+1's lineage does not replay
    * rounds 1..r.
    *
    * The merge application is a LEFT FOLD over each word's symbols with
    * a STRING accumulator: append `sep + x`, except when the accumulator
    * ends with `sep + left` and `x == right` — then append `x` bare,
    * fusing the pair. Newly fused symbols cannot re-fuse in the same
    * round (the accumulator no longer ends with `sep + left`), which is
    * exactly the non-overlapping left-to-right semantics of the
    * reference BPE implementations — and the identical fold runs in the
    * DuckDB oracle via `list_reduce` over the same strings.
    */
  def bpeMerges(
      docs: DataFrame,
      nMerges: Int,
      textCol: String = "text"
  ): DataFrame =
    bpeTrain(docs, nMerges, textCol)._1

  /** The TRAINED SEGMENTATIONS — `(w, syms, cnt)`: every corpus word
    * with its subword decomposition after `nMerges` rounds. This is the
    * SERVING artifact: BPE-encoding a corpus is a broadcast lookup
    * against this table (a word's tokenization is fully determined by
    * the merge sequence, and the trainer already computed it for every
    * word it saw), not a per-document re-run of the merge loop.
    */
  def bpeSegmentations(
      docs: DataFrame,
      nMerges: Int,
      textCol: String = "text"
  ): DataFrame = bpeTrain(docs, nMerges, textCol)._2

  /** The word-frequency table both subword trainers start from: one
    * corpus pass, distinct words with counts, symbols seeded at
    * characters.
    */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    wordTableLazy(docs, textCol).localCheckpoint(true)

  /** [[wordTable]] without the eager materialization — the merge
    * trainers' driver regime collects it directly (one job) instead of
    * checkpointing and then reading the checkpoint back.
    */
  private def wordTableLazy(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w"), split(col("w"), "").as("syms"), col("cnt"))

  /** The per-round weighted adjacent-pair counts over a symbol table —
    * `(l, r, total)`, overlapping pairs all counted.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(
        col("cnt"),
        explode(
          transform(
            // sequence(0, -1) DESCENDS for 1-symbol words — guard to empty
            when(size(col("syms")) >= 2, sequence(lit(0), size(col("syms")) - 2))
              .otherwise(array().cast("array<int>")),
            j => struct(element_at(col("syms"), j + 1).as("l"), element_at(col("syms"), j + 2).as("r"))
          )
        ).as("p")
      )
      .groupBy(col("p.l"), col("p.r"))
      .agg(sum(col("cnt")).as("total"))

  /** Apply one (l, r) merge to a symbol table — the left fold with a
    * string accumulator (see [[bpeMerges]]'s scaladoc; the identical
    * fold runs in the DuckDB oracle via `list_reduce`).
    */
  private def applyMerge(words: DataFrame, l: String, r: String): DataFrame = {
    val folded = aggregate(
      col("syms"),
      lit(""),
      (acc, x) =>
        when(acc.endsWith(lit(BpeSep + l)) && x === lit(r), concat(acc, x))
          .otherwise(concat(acc, lit(BpeSep), x))
    )
    // folded = "␟s1␟s2…": drop the leading separator, re-split
    words
      .select(
        col("w"),
        split(folded.substr(lit(2), length(folded)), BpeSep).as("syms"),
        col("cnt")
      )
      .localCheckpoint(true)
  }

  private def bpeTrain(
      docs: DataFrame,
      nMerges: Int,
      textCol: String
  ): (DataFrame, DataFrame) = {
    require(nMerges > 0, s"need nMerges > 0, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    collectWordsIfSmall(docs, textCol) match {
      case Some(local) => driverMergeTrain(spark, local, nMerges, likelihood = false)
      case None =>
        var words = wordTable(docs, textCol)
        val merges = Seq.newBuilder[(Long, String, String, Long)]
        var i = 1
        var exhausted = false
        while (i <= nMerges && !exhausted) {
          val top = pairCounts(words)
            .orderBy(col("total").desc, col("l"), col("r"))
            .limit(1)
            .collect()
          if (top.isEmpty) exhausted = true
          else {
            val (l, r, cnt) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
            merges += ((i.toLong, l, r, cnt))
            words = applyMerge(words, l, r)
            i += 1
          }
        }
        (merges.result().toDF("merge_idx", "left", "right", "pair_count"), words)
    }
  }

  /** Word-count ceiling for the merge trainers' driver regime — the
    * [[graft.operators.Dedup.componentsOf]] two-regime split applied to
    * BPE/WordPiece training (guide §8 decide-with-small-rows, §1.5):
    * the word-frequency table is a tiny PROXY of the corpus (DISTINCT
    * words, not occurrences — 1M words of ~16 chars ≈ tens of MB, the
    * broadcast-relation order of magnitude), while every distributed
    * merge round below is a full aggregate + driver argmax collect + an
    * eager fold checkpoint of almost pure scheduling overhead at that
    * size. Above the threshold (or with `spark.graft.driverRegime.enabled`
    * = false, see [[graft.DriverRegime]] — the regime-equality spec uses
    * that to pin identical artifacts) the per-round distributed loop runs
    * untouched, so the trainers stay scale-safe by construction at
    * 100 TB word tables.
    */
  private val DriverMaxWords = 1 << 20

  /** One collect of the word table when it fits the driver regime —
    * `(w, syms, cnt)` rows, or None above the threshold. One job either
    * way (the over-threshold probe wastes one aggregate, in exchange for
    * the small regime never paying checkpoint + count + collect).
    */
  private def collectWordsIfSmall(
      docs: DataFrame,
      textCol: String
  ): Option[Array[(String, Array[String], Long)]] =
    graft.DriverRegime
      .collectIfSmall(wordTableLazy(docs, textCol), DriverMaxWords)
      .map(_.map(r => (r.getString(0), r.getSeq[String](1).toArray, r.getLong(2))))

  /** Spark's string ordering is unsigned UTF-8 byte order (UTF8String
    * binary compare) — Java's String.compareTo is UTF-16 code-unit
    * order, which diverges on supplementary characters, so the driver
    * argmax tie-breaks must compare the same bytes the distributed
    * `orderBy(l, r)` compares.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The merge-trainer loop on the driver — [[bpeTrain]]'s (and, with
    * `likelihood = true`, [[wordpieceTrain]]'s) small regime. Replays
    * the distributed rounds' arithmetic exactly: integer pair counts
    * weighted by word frequency, the argmax by (count desc, l, r) —
    * or by the WordPiece score `(pc / lc) / rc` evaluated as the same
    * fixed-order IEEE double chain — with [[utf8Lt]] ties, and the
    * non-overlapping left-to-right merge fold (a fused symbol never
    * re-fuses in its round: the accumulator check `endsWith(sep + l)`
    * is exactly `last == l` because symbols never contain the
    * separator). Artifacts are LocalRelations in the same contracts.
    */
  private def driverMergeTrain(
      spark: org.apache.spark.sql.SparkSession,
      words: Array[(String, Array[String], Long)],
      nMerges: Int,
      likelihood: Boolean
  ): (DataFrame, DataFrame) = {
    import spark.implicits._
    val syms: Array[Array[String]] = words.map(_._2)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= nMerges && !exhausted) {
      val pc = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < words.length) {
        val s = syms(wi)
        val cnt = words(wi)._3
        var j = 0
        while (j < s.length - 1) {
          pc.merge((s(j), s(j + 1)), cnt, (a, b) => a + b)
          j += 1
        }
        wi += 1
      }
      if (pc.isEmpty) exhausted = true
      else {
        // per-round symbol occurrence counts — WordPiece's unigram
        // denominators (skipped for raw-count BPE)
        val sc = new java.util.HashMap[String, Long]()
        if (likelihood) {
          var k = 0
          while (k < words.length) {
            val s = syms(k)
            val cnt = words(k)._3
            var j = 0
            while (j < s.length) { sc.merge(s(j), cnt, (a, b) => a + b); j += 1 }
            k += 1
          }
        }
        var bestL: String = null
        var bestR: String = null
        var bestCnt = 0L
        var bestScore = 0.0
        val it = pc.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (l, r) = e.getKey
          val cnt = e.getValue
          // fixed order: (pc / lc) / rc — the distributed expression's
          // exact double chain (bit-identical given identical longs).
          // BPE compares the raw LONG counts like the distributed
          // orderBy(total) — a double proxy would blur distinct counts
          // past 2^53
          val score =
            if (likelihood) cnt.toDouble / sc.get(l).toDouble / sc.get(r).toDouble
            else 0.0
          val better =
            if (bestL == null) true
            else if (likelihood && score != bestScore) score > bestScore
            else if (!likelihood && cnt != bestCnt) cnt > bestCnt
            else if (l != bestL) utf8Lt(l, bestL)
            else if (r != bestR) utf8Lt(r, bestR)
            else false
          if (better) { bestL = l; bestR = r; bestCnt = cnt; bestScore = score }
        }
        merges += ((i.toLong, bestL, bestR, bestCnt))
        var k = 0
        while (k < words.length) {
          val s = syms(k)
          var fused = false
          var j = 0
          while (!fused && j < s.length - 1) {
            fused = s(j) == bestL && s(j + 1) == bestR
            j += 1
          }
          if (fused) {
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            var m = 0
            while (m < s.length) {
              val x = s(m)
              if (out.nonEmpty && out.last == bestL && x == bestR)
                out(out.length - 1) = out.last + x
              else out += x
              m += 1
            }
            syms(k) = out.toArray
          }
          k += 1
        }
        i += 1
      }
    }
    val segRows = words.indices.map(k => (words(k)._1, syms(k).toSeq, words(k)._3))
    (
      merges.result().toDF("merge_idx", "left", "right", "pair_count"),
      segRows.toDF("w", "syms", "cnt")
    )
  }

  /** UNIGRAM-LM TOKENIZER TRAINING (the SentencePiece model family —
    * Kudo 2018: treat tokenization as inference under a unigram language
    * model over subword pieces) — the third trainer of the tokenizer
    * tier, completing BPE (q100: merge-frequency greedy) and WordPiece
    * (q111: likelihood-ratio greedy). Unlike both merge trainers, the
    * unigram model starts from a LARGE seed inventory and PRUNES: seed
    * with the corpus's frequent substrings, Viterbi-segment every word
    * under the current piece probabilities, re-estimate piece counts
    * from the segmentations (hard/Viterbi EM — the deterministic member
    * of the EM family: soft EM's forward-backward posteriors are
    * unordered float sums, engine-divergent by construction), prune to
    * the target inventory, and segment once more under the final model.
    *
    * Determinism discipline: piece probabilities are the exact rational
    * `num/N` evaluated as ONE IEEE double division, and a segmentation's
    * score is the product of those doubles in position order — the DP
    * recurrence `best[j] = max over L of best[j−L] · p(piece)` fixes the
    * operation order, so scores are bit-identical across engines (the
    * q111 fixed-division-order argument, extended from one division to
    * a fold of them). Ties break to the LONGER last piece; with that,
    * the argmax at every (word, position) is unique, the whole
    * segmentation replays in the oracle's unrolled per-position CTEs,
    * and no `log` ever runs. Smoothing is add-one on the surviving
    * inventory (every seed character survives pruning, so the DP is
    * total — any word segments, worst-case char-by-char).
    *
    * Scale shape — the trainer discipline shared with BPE/Lloyd: the
    * corpus is read ONCE into the word-frequency table; everything
    * after (seed substring aggregate, per-word Viterbi folds, count
    * re-estimation, pruning) runs on word-table-bounded frames with the
    * piece table broadcast as a 1-row map; each Viterbi pass is ONE
    * scan (the DP is row-local — see [[viterbiSegment]]). Returns
    * segmentations in the SAME `(w, syms, cnt)` contract as
    * [[bpeSegmentations]]/[[wordpieceSegmentations]], so
    * [[subwordVocab]], [[encodeSubwords]] and [[bpeProfile]] compose
    * unchanged.
    *
    * @param seedSize   multi-char seed pieces kept (by occurrence mass
    *                   desc, piece asc); all single chars always seed
    * @param targetSize multi-char pieces surviving the prune (by
    *                   Viterbi-usage count desc, piece asc)
    * @param maxPieceLen longest piece considered (SentencePiece's
    *                   max_sentencepiece_length, default 4 here)
    * @param wordLenCap DP unroll bound — words longer than this fail
    *                   fast (the oracle unrolls exactly this many
    *                   positions; raise it for real corpora)
    */
  def unigramTrain(
      docs: DataFrame,
      seedSize: Int,
      targetSize: Int,
      maxPieceLen: Int = 4,
      wordLenCap: Int = 16,
      textCol: String = "text"
  ): (DataFrame, DataFrame) = {
    require(seedSize > 0, s"need seedSize > 0, got $seedSize")
    require(targetSize > 0, s"need targetSize > 0, got $targetSize")
    require(maxPieceLen >= 2, s"need maxPieceLen >= 2, got $maxPieceLen")
    require(wordLenCap >= maxPieceLen, s"need wordLenCap >= maxPieceLen, got $wordLenCap")
    val words = wordTable(docs, textCol).drop("syms")
    val maxWordLen = words
      .agg(coalesce(max(length(col("w"))), lit(0)))
      .head()
      .getInt(0)
    require(maxWordLen > 0, "unigramTrain: empty corpus")
    require(
      maxWordLen <= wordLenCap,
      s"unigramTrain: a corpus word has length $maxWordLen > wordLenCap=$wordLenCap"
    )
    // seed inventory: every substring occurrence (all positions, not
    // distinct) weighted by word frequency — one word-table-bounded
    // explode + aggregate
    val subs = words
      .select(
        col("cnt"),
        explode(
          expr(
            s"flatten(transform(sequence(1, length(w)), i ->" +
              s" transform(sequence(1, least($maxPieceLen, length(w) - i + 1))," +
              s" L -> substring(w, i, L))))"
          )
        ).as("s")
      )
      .groupBy(col("s"))
      .agg(sum(col("cnt")).as("freq"))
      .localCheckpoint(true)
    val singles0 = subs.filter(length(col("s")) === 1)
    // no checkpoint: single consumer (segA's broadcast model aggregate),
    // reading straight off the checkpointed substring frame
    val pieces0 = singles0
      .select(col("s"), col("freq").as("num"))
      .unionByName(
        subs
          .filter(length(col("s")) >= 2)
          .orderBy(col("freq").desc, col("s"))
          .limit(seedSize)
          .select(col("s"), col("freq").as("num"))
      )
    // E-step under the seed model, M-step counts, prune, final E-step
    val segA = viterbiSegment(words, pieces0, maxPieceLen)
    val counts = segA
      .select(col("cnt"), explode(col("syms")).as("s"))
      .groupBy(col("s"))
      .agg(sum(col("cnt")).as("c"))
      .localCheckpoint(true)
    val pieces1 = singles0
      .select(col("s"))
      .join(counts, Seq("s"), "left")
      .select(col("s"), (coalesce(col("c"), lit(0L)) + 1L).as("num"))
      .unionByName(
        counts
          .filter(length(col("s")) >= 2)
          .orderBy(col("c").desc, col("s"))
          .limit(targetSize)
          .select(col("s"), (col("c") + 1L).as("num"))
      )
      .localCheckpoint(true)
    (pieces1.select(col("s").as("piece"), col("num")), viterbiSegment(words, pieces1, maxPieceLen))
  }

  /** The trained unigram piece table `(piece, num)` — `num` the add-one
    * Viterbi-usage numerator the final model scores with.
    */
  def unigramPieces(
      docs: DataFrame,
      seedSize: Int,
      targetSize: Int,
      maxPieceLen: Int = 4,
      wordLenCap: Int = 16,
      textCol: String = "text"
  ): DataFrame = unigramTrain(docs, seedSize, targetSize, maxPieceLen, wordLenCap, textCol)._1

  /** The unigram-LM segmentation table `(w, syms, cnt)` — same serving
    * contract as [[bpeSegmentations]]: encoding a corpus is a broadcast
    * lookup, never a per-document Viterbi re-run.
    */
  def unigramSegmentations(
      docs: DataFrame,
      seedSize: Int,
      targetSize: Int,
      maxPieceLen: Int = 4,
      wordLenCap: Int = 16,
      textCol: String = "text"
  ): DataFrame = unigramTrain(docs, seedSize, targetSize, maxPieceLen, wordLenCap, textCol)._2

  /** Viterbi segmentation of the word table under a `(s, num)` piece
    * model: `best[j] = max over L ≤ maxPieceLen of best[j−L] · num/N`
    * (double product in position order, ties to longer L — unique
    * argmax). The recurrence is ROW-LOCAL — position t of a word depends
    * only on positions t−L of the SAME word — so the whole DP runs
    * inside one fold expression per word (guide §1.5/§5): the previous
    * shape driver-iterated one position per round (join + eager
    * checkpoint each), ~2·wordLenCap cluster jobs of almost pure
    * scheduling overhead per training pass at fixture scale, for work
    * that is ≤ wordLenCap·maxPieceLen struct ops per word. The piece
    * table rides in as a broadcast 1-row map (the encodeSubwords charMap
    * pattern); candidate scoring and the (score, L, seg) argmax replay
    * the exact former arithmetic — same IEEE double product in position
    * order, same struct-ordered max (array_max == max over identical
    * field order), so segmentations are bit-identical (spec-pinned).
    * Total as long as every word's characters are in the model
    * (guaranteed: singles always survive); an uncoverable word yields a
    * NULL final cell and is dropped, exactly like the former inner join.
    */
  private def viterbiSegment(
      words: DataFrame,
      pieces: DataFrame,
      maxPieceLen: Int
  ): DataFrame = {
    val model = pieces.agg(
      map_from_entries(collect_list(struct(col("s"), col("num")))).as("__pmap"),
      sum(col("num")).as("__n")
    )
    val fold = aggregate(
      sequence(lit(1), length(col("w"))),
      array(struct(lit(1.0).as("score"), lit(0).as("L"), lit("").as("seg"))),
      (acc, t) => {
        val cands = transform(
          sequence(lit(1), least(lit(maxPieceLen), t)),
          L => {
            val prev = element_at(acc, t - L + lit(1))
            val piece = col("w").substr(t - L + lit(1), L)
            struct(
              (prev.getField("score") *
                (element_at(col("__pmap"), piece).cast("double") / col("__n").cast("double")))
                .as("score"),
              L.as("L"),
              concat(prev.getField("seg"), lit(BpeSep), piece).as("seg")
            )
          }
        )
        array_append(acc, array_max(filter(cands, c => c.getField("score").isNotNull)))
      }
    )
    words
      .crossJoin(broadcast(model))
      .select(col("w"), col("cnt"), element_at(fold, length(col("w")) + lit(1)).as("__m"))
      .filter(col("__m").isNotNull)
      .select(col("w"), split(expr("substr(__m.seg, 2)"), BpeSep).as("syms"), col("cnt"))
  }

  /** The SYMBOL VOCABULARY of a trained segmentation table — `(sym,
    * mass, sym_id)` with `mass` the weighted corpus occurrence count and
    * ids 1..V assigned by (mass desc, sym asc): the id table a tokenizer
    * ships NEXT TO its merge list (merges define the segmentation, this
    * defines the integers the model actually consumes). Id 0 is RESERVED
    * for `<unk>` — [[encodeSubwords]] emits it for symbols outside the
    * table. Deterministic: a pure function of the segmentation table, so
    * the DuckDB oracle replays it exactly.
    *
    * The ranking window has no partition, which is safe for the same
    * reason as the waterfill sources window: the frame is the SYMBOL
    * INVENTORY — bounded by the seed character set plus one symbol per
    * merge round, never by the corpus.
    */
  def subwordVocab(segmentations: DataFrame): DataFrame =
    segmentations
      .select(col("cnt"), explode(col("syms")).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("cnt")).as("mass"))
      .select(
        col("sym"),
        col("mass"),
        row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy(col("mass").desc, col("sym")))
          .cast("long")
          .as("sym_id")
      )

  /** ENCODE a corpus to token-id sequences — the artifact a training
    * pipeline actually emits: `(idCol, ids, n_ids)` with `ids` each
    * document's subword ids in reading order. This is the serving
    * composition the trainer surface exists for: words look up their
    * trained decomposition ([[bpeSegmentations]] /
    * [[wordpieceSegmentations]] — a BROADCAST dictionary, never a
    * per-document merge-loop re-run), symbols look up their
    * [[subwordVocab]] id (broadcast again), and order is reassembled
    * from the (word position, symbol position) pair. Unknown words fall
    * back to their character decomposition (the zero-merge encoding);
    * characters outside the vocabulary encode as 0 = `<unk>`.
    *
    * Scale shape: the symbol→id substitution happens ONCE, inside the
    * (word-table-bounded) segmentation frame — each word's id array is
    * precomputed there, so the corpus explodes one row per WORD with
    * the id array riding along, never one row per subword (~4× fewer
    * shuffled rows at typical fertility; the first cut exploded
    * subwords and the 1M-doc smoke measured the difference). The
    * corpus never shuffles until the per-document assembly aggregate,
    * both lookup tables are trainer-bounded and broadcast, and the
    * assembly sort is per-document (array_sort over the collected
    * struct list — work bounded by document length, no corpus-wide
    * Window). The char fallback reads a broadcast 1-row
    * `map<char, id>` built from the vocabulary's single-character
    * symbols — in-plan and lazy, like every model frame in the engine.
    * `n_ids` == [[bpeProfile]]'s `n_subwords` by construction
    * (spec-pinned law).
    */
  def encodeSubwords(
      docs: DataFrame,
      segmentations: DataFrame,
      vocab: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val segIds = segmentations
      .select(col("w"), posexplode(col("syms")).as(Seq("spos", "sym")))
      .join(vocab.select(col("sym"), col("sym_id")), Seq("sym"), "left")
      .groupBy(col("w"))
      .agg(
        transform(
          array_sort(
            collect_list(struct(col("spos"), coalesce(col("sym_id"), lit(0L)).as("id")))
          ),
          s => s.getField("id")
        ).as("wids")
      )
    val charMap = vocab
      .filter(length(col("sym")) === 1)
      .agg(map_from_entries(collect_list(struct(col("sym"), col("sym_id")))).as("cmap"))
    docs
      .select(
        col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("wpos", "w"))
      )
      .filter(length(col("w")) > 0)
      .join(broadcast(segIds), Seq("w"), "left")
      .crossJoin(broadcast(charMap))
      .select(
        col(idCol),
        col("wpos"),
        coalesce(
          col("wids"),
          transform(split(col("w"), ""), c => coalesce(element_at(col("cmap"), c), lit(0L)))
        ).as("wids")
      )
      .groupBy(col(idCol))
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col("wpos"), col("wids").as("ws")))),
            s => s.getField("ws")
          )
        ).as("ids")
      )
      .select(col(idCol), col("ids"), size(col("ids")).cast("long").as("n_ids"))
  }

  /** WordPiece RUNTIME segmentation — greedy longest-match-first (the
    * BERT tokenizer's serving algorithm, Devlin et al. 2019 §4 /
    * Schuster & Nakajima 2012): at each position take the LONGEST
    * vocabulary symbol that matches, advance, repeat. This is the
    * missing half of the [[wordpieceMerges]] trainer — production
    * WordPiece does NOT replay merges at serve time (that is BPE's
    * runtime, [[bpeSegmentations]]); it ships only the symbol INVENTORY
    * and re-derives each word's pieces greedily. The two runtimes can
    * disagree on a word, which is exactly why both must exist.
    *
    * Returns `(w, syms, cnt)` — the same segmentation-table contract as
    * the trainers, so [[encodeSubwords]] composes unchanged. A word the
    * greedy cannot cover (no symbol matches at some position — possible
    * only when serving text whose characters the vocabulary has never
    * seen) falls back WHOLE to its character decomposition, mirroring
    * the encode layer's unknown-word law (spec-pinned).
    *
    * Scale shape: everything is WORD-TABLE-bounded — the corpus is
    * touched once for the distinct-word table. The longest-match table
    * enumerates (position, length ≤ `maxPieceLen`) candidate substrings
    * per distinct word and equi-joins the broadcast inventory (a
    * BroadcastHashJoin on the substring — no theta-join, no per-document
    * work). The walk itself is ROW-LOCAL — each word's next position
    * depends only on its own longest-match table — so it runs as one
    * fold expression per word over the word's `p → step` map (guide
    * §1.5/§5): the former `(w, pos)` frontier loop was ≤ longest-word
    * driver rounds of join + eager checkpoint + isEmpty, pure scheduling
    * overhead for per-word micro-work. A word the greedy cannot cover
    * (NULL step at a reached position — including words with NO match
    * anywhere, whose map row is absent) falls back WHOLE to characters,
    * exactly as before (spec-pinned).
    */
  def greedySegmentations(
      docs: DataFrame,
      vocab: DataFrame,
      maxPieceLen: Int = 16,
      textCol: String = "text"
  ): DataFrame = {
    require(maxPieceLen >= 1, s"need maxPieceLen >= 1, got $maxPieceLen")
    val words = wordTable(docs, textCol).select(col("w"), col("cnt"))
    val inv = vocab
      .select(col("sym").as("piece"))
      .filter(length(col("piece")).between(1, maxPieceLen))
    // longest inventory match at every (word, position): candidate
    // substrings by explicit length, broadcast equi-join, max length,
    // collected to one p → step map per word
    val steps = words
      .select(col("w"), explode(sequence(lit(0), length(col("w")) - 1)).as("p"))
      .select(
        col("w"),
        col("p"),
        explode(sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - col("p")))).as("l")
      )
      .withColumn("piece", expr("substring(w, p + 1, l)"))
      .join(broadcast(inv), Seq("piece"))
      .groupBy(col("w"), col("p"))
      .agg(max(col("l")).as("step"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("p"), col("step")))).as("__smap"))
    // the greedy walk: ≤ length(w) iterations (every piece consumes ≥ 1
    // char); once pos reaches the end (or the walk fails) the
    // accumulator passes through unchanged
    val walk = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(
        lit(0).as("pos"),
        array().cast("array<string>").as("ks"),
        lit(false).as("failed")
      ),
      (acc, _) => {
        val pos = acc.getField("pos")
        val step = element_at(col("__smap"), pos)
        when(acc.getField("failed") || pos >= length(col("w")), acc)
          .otherwise(
            when(
              step.isNull,
              struct(pos.as("pos"), acc.getField("ks").as("ks"), lit(true).as("failed"))
            ).otherwise(
              struct(
                (pos + step).as("pos"),
                array_append(acc.getField("ks"), col("w").substr(pos + lit(1), step)).as("ks"),
                lit(false).as("failed")
              )
            )
          )
      }
    )
    words
      .join(steps, Seq("w"), "left")
      .select(col("w"), walk.as("__walk"), col("cnt"))
      .select(
        col("w"),
        when(col("__walk.failed"), split(col("w"), "")).otherwise(col("__walk.ks")).as("syms"),
        col("cnt")
      )
  }

  /** WORDPIECE merge training (Schuster & Nakajima 2012; the BERT
    * tokenizer's trainer): the same round structure as [[bpeMerges]] —
    * word-frequency table once, one pair aggregate + driver argmax + one
    * merge fold per round — but each round fuses the pair maximizing the
    * LIKELIHOOD score `count(l,r) / (count(l)·count(r))` instead of the
    * raw pair count: the merge that most increases a unigram LM's
    * data likelihood, which prefers strongly-associated rare pairs over
    * merely-frequent ones. Ties break on (score, l, r) — score compared
    * as the double `(pc / lc) / rc` with a FIXED operation order, so the
    * two engines compute the bit-identical IEEE value (no long overflow
    * at any corpus size, unlike a scaled-integer ratio whose numerator
    * `pc·10^12` would cap the trainable corpus).
    *
    * Returns `(merge_idx, left, right, pair_count)` — the same merge-
    * table contract as BPE, so [[bpeProfile]]-style serving works
    * unchanged off [[wordpieceSegmentations]].
    */
  def wordpieceMerges(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame =
    wordpieceTrain(docs, nMerges, textCol)._1

  /** The trained WordPiece segmentation table (the [[bpeSegmentations]]
    * serving artifact under the likelihood-scored merge sequence).
    */
  def wordpieceSegmentations(docs: DataFrame, nMerges: Int, textCol: String = "text"): DataFrame =
    wordpieceTrain(docs, nMerges, textCol)._2

  private def wordpieceTrain(
      docs: DataFrame,
      nMerges: Int,
      textCol: String
  ): (DataFrame, DataFrame) = {
    require(nMerges > 0, s"need nMerges > 0, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    collectWordsIfSmall(docs, textCol) match {
      case Some(local) => return driverMergeTrain(spark, local, nMerges, likelihood = true)
      case None => ()
    }
    var words = wordTable(docs, textCol)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= nMerges && !exhausted) {
      // per-round weighted symbol occurrences — the unigram denominators
      val syms = words
        .select(col("cnt"), explode(col("syms")).as("s"))
        .groupBy(col("s"))
        .agg(sum(col("cnt")).as("c"))
      val top = pairCounts(words)
        .join(syms.select(col("s").as("l"), col("c").as("lc")), Seq("l"))
        .join(syms.select(col("s").as("r"), col("c").as("rc")), Seq("r"))
        .select(
          col("l"),
          col("r"),
          col("total"),
          // fixed order: (pc / lc) / rc — bit-identical in the oracle
          (col("total").cast("double") / col("lc").cast("double") / col("rc").cast("double"))
            .as("score")
        )
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((i.toLong, l, r, cnt))
        words = applyMerge(words, l, r)
        i += 1
      }
    }
    (merges.result().toDF("merge_idx", "left", "right", "pair_count"), words)
  }

  /** COLLOCATION mining — the phrase-vocabulary prep step (Mikolov et
    * al. 2013's phrase detection; the "New_York" pass before tokenizer
    * training): adjacent token pairs ranked by LIFT, the log-free
    * monotone core of PMI — `p(l,r) / (p(l)·p(r))` as the integer
    * rational `n_lr · N · 10^6 div (n_l · n_r)` (N = total token count),
    * so the score is bit-reproducible across engines with no
    * transcendental in sight. `minCount` guards the classic PMI
    * rare-pair explosion (a pair seen once between two hapaxes scores
    * astronomically); the result is the global top-`k` by (lift desc,
    * l, r), a bounded TakeOrdered — never a corpus-wide sort.
    *
    * Scale shape: ONE corpus pass explodes positional bigrams (the
    * occurrence stream), two partial-aggregated hash aggregates (pair
    * counts, unigram counts), a broadcast join of the unigram table
    * back onto the pair table (both bounded by vocabulary, not corpus),
    * and the top-k. Overflow: `n_lr · N · liftScale` must stay below
    * 2^63, so the lift column carries an IN-PLAN guard — any row whose
    * product would wrap raises instead of silently mis-ranking (with
    * ANSI off Spark wraps Long multiplication without complaint, and a
    * wrapped lift is negative garbage that still sorts). `liftScale` is
    * the knob: 10^6 is safe to N ≈ 3·10^6 tokens even in the worst case
    * (n_lr == N); web-scale corpora run the same rational at 10^3 or
    * 10^0 — precision traded for headroom, loudly, never silently.
    */
  def collocations(
      docs: DataFrame,
      k: Int,
      minCount: Long = 5L,
      textCol: String = "text",
      liftScale: Long = 1000000L
  ): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    require(liftScale >= 1, s"need liftScale >= 1, got $liftScale")
    // materialize the token array BEFORE the pair transform: a lambda
    // referencing the split() expression re-evaluates it per element
    // (the positionalShingles pitfall, quadratic in document length);
    // projecting it to a column first makes each split run once
    val tokenized = docs.select(TextFunctions.tokens(col(textCol)).as("toks"))
    val toks = col("toks")
    val pairs = tokenized
      .select(
        explode(
          transform(
            when(size(toks) >= 2, sequence(lit(0), size(toks) - 2))
              .otherwise(array().cast("array<int>")),
            j => struct(element_at(toks, j + 1).as("l"), element_at(toks, j + 2).as("r"))
          )
        ).as("p")
      )
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n_lr"))
      .filter(col("n_lr") >= minCount)
    val unigrams = tokenized
      .select(explode(toks).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"))
    val total = tokenized
      .select(size(toks).cast("long").as("nt"))
      .agg(sum(col("nt")).as("n_total"))
    pairs
      .join(broadcast(unigrams.select(col("t").as("l"), col("n").as("n_l"))), Seq("l"))
      .join(broadcast(unigrams.select(col("t").as("r"), col("n").as("n_r"))), Seq("r"))
      .crossJoin(broadcast(total))
      .select(
        col("l"),
        col("r"),
        col("n_lr"),
        col("n_l"),
        col("n_r"),
        liftGuarded(liftScale).as("lift_micro")
      )
      .orderBy(col("lift_micro").desc, col("l"), col("r"))
      .limit(k)
  }

  /** The guarded integer lift `n_lr·n_total·liftScale div (n_l·n_r)`
    * over columns of those names. Overflow guards BEFORE every multiply,
    * on BOTH sides of the division: numerator n_total·liftScale first
    * (bounded against Long.MaxValue div liftScale), then n_lr against
    * the remaining headroom, then the DENOMINATOR n_l·n_r (ADVICE r10 —
    * at the web scales the liftScale knob targets, two ~10⁹ unigram
    * counts wrap the unguarded Long product into exactly the negative
    * garbage-that-still-sorts this guard documents itself as
    * preventing). All checks integer-exact; n_r ≥ 1 always (it is a
    * count), so the guard's own div is safe. Exposed package-private:
    * the denominator branch needs counts ~3·10⁹ no fixture can generate
    * by real counting, so its spec drives this expression on a literal
    * frame.
    */
  private[graft] def liftGuarded(liftScale: Long): Column =
    expr(
      s"CASE WHEN n_total <= ${Long.MaxValue / liftScale}L" +
        s" AND n_lr <= ${Long.MaxValue}L div (n_total * ${liftScale}L)" +
        s" AND n_l <= ${Long.MaxValue}L div n_r" +
        s" THEN n_lr * n_total * ${liftScale}L div (n_l * n_r)" +
        " ELSE raise_error(concat('collocations: lift overflow (n_lr=', n_lr," +
        s" ', n_total=', n_total, ', n_l=', n_l, ', n_r=', n_r," +
        s" ') at liftScale=$liftScale; lower liftScale')) END"
    )

  /** TOKENIZER DRIFT report — diff two trained segmentation tables (any
    * mix of [[bpeSegmentations]]/[[wordpieceSegmentations]]/
    * [[unigramSegmentations]], or two snapshots of one trainer): one row
    * per word present in either, `(w, status, n_syms_old, n_syms_new,
    * cnt)` with status `added`/`removed`/`changed`/`unchanged`. This is
    * the [[graft.operators.Report.snapshotDiff]] discipline applied to
    * the tokenizer artifact — the question a retrain actually raises is
    * not "did the merge list change" but "how much of the CORPUS
    * re-tokenizes differently" (embedding caches invalidate, token
    * budgets shift, packed shards stop aligning), which is why the
    * word frequency rides along and [[segmentationDiffSummary]] rolls
    * the corpus-weighted answer up.
    *
    * Scale shape: one full-outer equi-join of two word-table-bounded
    * frames on the word — never corpus-sized.
    */
  def segmentationDiff(oldSegs: DataFrame, newSegs: DataFrame): DataFrame =
    // presence via explicit flags + null-safe compare (the r18
    // snapshotDiff fix applied to its vocab twin): the engine's trainers
    // never emit a NULL syms, but a hand-fed table with one would
    // otherwise read added/removed while present, and NULL ≠ NULL → NULL
    // would fall through to "unchanged" — the oracle's presence is
    // already w-keyed
    oldSegs
      .select(col("w"), lit(true).as("old_present"), col("syms").as("syms_old"), col("cnt").as("cnt_old"))
      .join(
        newSegs.select(col("w"), lit(true).as("new_present"), col("syms").as("syms_new"), col("cnt").as("cnt_new")),
        Seq("w"),
        "full_outer"
      )
      .select(
        col("w"),
        when(col("old_present").isNull, lit("added"))
          .when(col("new_present").isNull, lit("removed"))
          .when(!(col("syms_old") <=> col("syms_new")), lit("changed"))
          .otherwise(lit("unchanged"))
          .as("status"),
        coalesce(size(col("syms_old")).cast("long"), lit(0L)).as("n_syms_old"),
        coalesce(size(col("syms_new")).cast("long"), lit(0L)).as("n_syms_new"),
        coalesce(col("cnt_new"), col("cnt_old")).as("cnt")
      )

  /** [[segmentationDiff]] rolled up per status: `(status, n_words,
    * word_mass, subword_delta)` — word mass = Σ corpus occurrences
    * (how much of the corpus re-tokenizes), subword_delta =
    * Σ (n_syms_new − n_syms_old)·cnt (how the corpus token count moves —
    * the number that re-sizes every token budget downstream).
    */
  def segmentationDiffSummary(oldSegs: DataFrame, newSegs: DataFrame): DataFrame =
    segmentationDiff(oldSegs, newSegs)
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("cnt")).as("word_mass"),
        sum((col("n_syms_new") - col("n_syms_old")) * col("cnt")).as("subword_delta")
      )

  /** Per-document SUBWORD profile under a trained segmentation table —
    * the serving side of [[bpeMerges]]: `(idCol, n_words, n_subwords)`,
    * where each word contributes its trained decomposition length. The
    * segmentation table is word-bounded and broadcasts; the corpus never
    * shuffles until the per-document aggregate. (Words absent from the
    * table — impossible when encoding the training corpus itself, the
    * gated case — fall back to character count, the zero-merge
    * decomposition.)
    */
  def bpeProfile(
      docs: DataFrame,
      segmentations: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(
        broadcast(segmentations.select(col("w"), size(col("syms")).cast("long").as("__n"))),
        Seq("w"),
        "left"
      )
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(coalesce(col("__n"), length(col("w")).cast("long"))).as("n_subwords")
      )

  /** Per-document OOV profile against a built vocabulary:
    * `(idCol, n_tok, n_oov, oov_permille)`, all BIGINT. A token is OOV
    * iff absent from `vocab.tok`.
    */
  def oovProfile(
      docs: DataFrame,
      vocab: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .join(broadcast(vocab.select(col("tok"), lit(1L).as("__in"))), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov")
      )
      .select(
        col(idCol),
        col("n_tok"),
        col("n_oov"),
        expr("n_oov * 1000 div n_tok").as("oov_permille")
      )
}
