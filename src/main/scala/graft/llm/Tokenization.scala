package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Stored

/** Distributed BPE (byte-pair-encoding) tokenizer training and encoding —
  * the tokenizer step of a training-data pipeline (the engine already
  * COUNTS with a fixed merge table via q_token_bpe; this LEARNS the table
  * and ENCODES with it).
  *
  * Reference anchor: none in repype — brief-mandated text-analysis family
  * ("token counting (whitespace + a BPE-ish regex)") extended to training,
  * following Sennrich et al. 2016's word-frequency formulation.
  *
  * Scale shape (the standard practice, same as HuggingFace's trainer): BPE
  * statistics are a function of the WORD-FREQUENCY table, not the raw
  * corpus — so the corpus is scanned ONCE into `(word, count)` (one
  * shuffle, map-side combined; the table is vocabulary-bounded, millions
  * of rows at web scale vs billions of documents). Each merge round then
  * runs entirely on that bounded table: adjacent-symbol-pair counts are
  * one hash aggregate, the argmax pair is a 1-row collect (the driver's
  * fixed-point state, same contract as k-means centroids), and the merge
  * applies as one codegen'd `replace`. Driver state after K rounds is the
  * K-row merge table itself — corpus size never reaches the driver.
  * Encoding then BROADCASTS the (word → segmentation) vocabulary back
  * against the corpus — per-document cost is a broadcast-hash lookup per
  * word, no shuffle of text.
  */
object Tokenization {

  /** Escape a corpus token for embedding in a SQL string literal. */
  private val q = (s: String) => s.replace("\\", "\\\\").replace("'", "\\'")

  /** Memo of completed training runs, keyed by (session, canonicalized
    * corpus plan, text column, merge count): a session that both LEARNS a
    * tokenizer and ENCODES with it (the normal pipeline shape) pays the
    * K-round training — 1 driver round-trip per merge — exactly once.
    * Entries are tiny (the K-row merge table plus a lazy plan; the
    * vocabulary DataFrame is never collected), and the cached plan stays
    * correct even if the underlying persisted `words` table is evicted:
    * re-running an action just recomputes it from the corpus with ZERO
    * new driver round-trips, because the learned merges are interpolated
    * into the plan as literals. */
  private val trained = scala.collection.mutable.Map.empty[
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
    () => (Seq[(Int, String, Long)], DataFrame)]

  /** Memo entries above this are all dropped (whole-map clear — a
    * session training over this many distinct corpora is a sweep, not a
    * pipeline, and per-entry LRU bookkeeping isn't worth it). */
  private val MaxTrained = 64

  private def trainLoop(docs: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    val key = (docs.sparkSession,
      docs.queryExecution.analyzed.canonicalized, textCol, numMerges)
    // the object monitor guards ONLY the map; the training itself runs
    // under the holder's own lazy-val lock, so concurrent callers of the
    // SAME corpus share one run while different corpora (or a pure memo
    // read) never block behind a minutes-long training
    val holder = synchronized {
      if (trained.size > MaxTrained) trained.clear()
      trained.getOrElseUpdate(key, {
        lazy val r = trainLoopUncached(docs, textCol, numMerges)
        () => r
      })
    }
    holder()
  }

  /** Drop every memoized training. graft.Bench calls this before EACH
    * timed rep: the frozen q_bpe_learn budget was measured with training
    * paid per rep, and a memo hit would silently turn reps 2-3 into
    * no-ops and report a fantasy number. Pipeline sessions (Verify, the
    * examples) never call it — they get the train-once sharing.
    *
    * CAVEAT: the memo key is the canonicalized READ PLAN, which for a
    * file source is path-based — a session that trains on a path, then
    * REWRITES that path's files and retrains, gets the stale merge
    * table back. Call this between the rewrite and the retrain (cache
    * invalidation by content hash is deliberately out of scope: the
    * supported pipeline shape writes derived corpora to new paths). */
  def invalidateTrained(): Unit =
    synchronized { trained.clear(); trainedWp.clear() }

  /** The training loop shared by [[learnBpeMerges]] and
    * [[bpeTokenCounts]]: returns the K learned merges and the final
    * (w, sym, cnt) vocabulary table with each word's merged segmentation.
    *
    * BATCHED rounds: one scan of the vocabulary table serves MANY
    * merges, not one — a 30k-merge production tokenizer cannot pay one
    * driver round-trip per merge (30k serialized Spark jobs is hours of
    * pure scheduling latency even though each is cheap). Per scan the
    * driver collects the top-T pairs and accepts the maximal PREFIX (in
    * (count desc, pair asc) order) whose pairs are pairwise
    * symbol-disjoint, truncated to counts STRICTLY above the first
    * rejected candidate's count. That prefix is provably the exact
    * greedy Sennrich sequence:
    *
    *   - merging (a,b) only changes counts of pairs CONTAINING a or b
    *     (they can only decrease) and CREATES pairs containing the new
    *     symbol ab, each of whose counts is bounded by an old pair
    *     sharing a symbol with (a,b) — every occurrence of (x,ab) was
    *     an occurrence of (x,a);
    *   - every pair sharing a symbol with an accepted pair sorts
    *     at-or-after the stop candidate (else the scan would have
    *     stopped there), so its count — and hence every created pair's
    *     count — is ≤ the stop count;
    *   - each kept pair's count is strictly above the stop count, so at
    *     its sequential round it still beats every decreased, unchanged,
    *     and newly created pair; within the batch, counts of disjoint
    *     pairs are mutually unaffected.
    *
    * Ties (kept count == stop count) fall back to accepting just the
    * head pair — the head is the global (count, lex) argmax, i.e.
    * exactly the sequential choice — so progress is always ≥ 1
    * merge/scan and typical batches are tens of merges. The vocabulary
    * table is localCheckpoint'd each batch: lineage (one codegen'd
    * `replace` chain per batch) stays bounded instead of growing to
    * numMerges nested expressions, and each scan reads a
    * vocabulary-bounded materialized table, never the corpus.
    */
  /** Boundary-aware merge on the `sym` column: double the INTERNAL
    * delimiters and wrap ("t|h|e" → "|t||h||e|") so the search literal
    * "|a||b|" can only match whole adjacent symbols — a plain
    * replace(sym,'h|e','he') would also hit "th|e" across the t·h
    * boundary once symbols grow multi-character, merging a pair that was
    * never learned. The replacement "|ab|" keeps single pipes at its
    * edges, so adjacent matches never share characters and left-to-right
    * non-overlapping replace = the greedy Sennrich merge order;
    * un-doubling restores the canonical form. Same three plain replaces
    * in the DuckDB oracle ([[bpeRoundsCte]]) — no regex, no lookaround. */
  private def applyMerge(df: DataFrame, pair: String): DataFrame = {
    val search = "|" + pair.replace("|", "||") + "|"
    val repl = "|" + pair.replace("|", "") + "|"
    df.withColumn("sym", expr(
      s"replace(trim(BOTH '|' FROM replace(" +
        s"concat('|', replace(sym, '|', '||'), '|'), " +
        s"'${q(search)}', '${q(repl)}')), '||', '|')"))
  }

  private def trainLoopUncached(docs: DataFrame, textCol: String,
                                numMerges: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    // ONE corpus scan: whitespace words → frequency table → symbol form.
    // Persisted: every merge round re-reads this (tiny) table, never the
    // corpus. concat_ws over split("") inserts '|' between characters.
    val words = Caches.track(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), concat_ws("|", split(col("w"), "")).as("sym"),
        col("cnt")))

    // adjacent symbol pairs of one row: zip the symbol list with its own
    // tail (zip_with pads the tail with null; filter drops the pad slot)
    val pairsOf = expr(
      """filter(
        |  zip_with(split(sym, '\\|'),
        |           slice(split(sym, '\\|'), 2, size(split(sym, '\\|'))),
        |           (a, b) -> concat(a, '|', b)),
        |  x -> x is not null)""".stripMargin)

    var cur = words
    val merges = Seq.newBuilder[(Int, String, Long)]
    var done = 0
    while (done < numMerges) {
      val remaining = numMerges - done
      // top-T candidates; T beyond `remaining` only serves to locate the
      // stop candidate, so a small margin suffices
      val t = math.max(64, math.min(1024, 4 * remaining))
      val cand = cur
        .select(explode(pairsOf).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
        .orderBy(col("pcnt").desc, col("pair").asc)
        .limit(t)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (cand.isEmpty) {
        done = numMerges // fully merged vocabulary: nothing left to learn
      } else {
        val touched = scala.collection.mutable.Set.empty[String]
        val prefix = Seq.newBuilder[(String, Long)]
        var nAccepted = 0
        var stopCount = -1L // count of the first unaccepted candidate
        var i = 0
        var stopped = false
        while (i < cand.length && !stopped && nAccepted < remaining) {
          val (pair, cnt) = cand(i)
          val d = pair.indexOf('|')
          val (s1, s2) = (pair.substring(0, d), pair.substring(d + 1))
          if (touched.contains(s1) || touched.contains(s2)) {
            stopCount = cnt
            stopped = true
          } else {
            prefix += ((pair, cnt))
            nAccepted += 1
            touched += s1
            touched += s2
            i += 1
          }
        }
        if (!stopped) {
          // ended by `remaining` or by list exhaustion: the first
          // unaccepted candidate (if any) bounds every conflicting pair;
          // an exhausted top-T list may hide smaller pairs below it
          if (nAccepted < cand.length) stopCount = cand(nAccepted)._2
          else if (cand.length == t) stopCount = cand.last._2
        }
        val all = prefix.result()
        // strict truncation: a created pair can TIE the stop count and
        // win the (count, lex) order, so ties are not provably greedy
        val kept0 = if (stopCount < 0) all
          else all.takeWhile(_._2 > stopCount)
        // no provable batch → the head alone IS the sequential argmax
        val kept = if (kept0.isEmpty) all.take(1) else kept0
        kept.foreach { case (pair, cnt) =>
          done += 1
          merges += ((done, pair, cnt))
          cur = applyMerge(cur, pair)
        }
        // bound lineage to one batch's replace chain; the table is
        // vocabulary-sized, so materialization is cheap
        cur = cur.localCheckpoint()
      }
    }
    (merges.result(), cur)
  }

  /** Learn the first `numMerges` BPE merges over whitespace-tokenized
    * `textCol`, weighted by word frequency. Returns one row per merge:
    * (rank 1-based, pair "a|b", pair_cnt).
    *
    * Symbols are '|'-delimited inside a word ("key" → "k|e|y"); a merge
    * replaces every non-overlapping WHOLE-SYMBOL occurrence left-to-right
    * (greedy Sennrich order), implemented as a delimiter-doubled SQL
    * `replace` so a match can never straddle a symbol boundary — plain
    * string replace would corrupt segmentations once symbols grow
    * multi-character (see trainLoop). All three replaces have identical
    * semantics in Spark and DuckDB, which is what makes the oracle
    * expressible. Ties on count break to the lexicographically smallest
    * pair, so the learned table is deterministic for a given corpus.
    */
  def learnBpeMerges(docs: DataFrame, textCol: String,
                     numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _) = trainLoop(docs, textCol, numMerges)
    import spark.implicits._
    merges.toDF("rank", "pair", "pair_cnt")
  }

  /** ENCODE with a freshly learned merge table: per-document BPE token
    * counts under the first `numMerges` merges. The learned vocabulary —
    * (word → number of symbols after all merges), vocabulary-bounded —
    * broadcasts against the corpus' exploded words, so encoding costs a
    * broadcast-hash probe per word plus one per-doc sum; the text itself
    * never shuffles. Returns (idCol, n_words, n_tokens): n_tokens ≤
    * chars-per-word · n_words and shrinks as merges are added — the
    * compression the tokenizer exists for. */
  def bpeTokenCounts(docs: DataFrame, textCol: String, idCol: String,
                     numMerges: Int): DataFrame = {
    val (_, vocab) = trainLoop(docs, textCol, numMerges)
    val ntok = broadcast(vocab.select(col("w"),
      size(split(col("sym"), "\\|")).cast("long").as("ntok")))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Shared CTE prefix for the DuckDB oracles: the same word-frequency →
    * pair-count → argmax → replace rounds as the engine, one interpolated
    * block per merge (the pagerankOracle pattern — parameters interpolate
    * so query and oracle cannot drift). `w{numMerges}` is the final
    * vocabulary (w, sym, cnt). */
  private def bpeRoundsCte(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT s.sym[g.i] || '|' || s.sym[g.i+1] AS pair, sum(w.cnt) AS pcnt
         |  FROM $prev w,
         |       LATERAL (SELECT string_split(w.sym, '|') AS sym) s,
         |       LATERAL (SELECT unnest(generate_series(1, len(s.sym)-1)) AS i) g
         |  GROUP BY 1),
         |m$i AS MATERIALIZED (
         |  SELECT pair, pcnt FROM p$i ORDER BY pcnt DESC, pair LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, replace(trim(replace(
         |      '|' || replace(sym, '|', '||') || '|',
         |      '|' || replace((SELECT pair FROM m$i), '|', '||') || '|',
         |      '|' || replace((SELECT pair FROM m$i), '|', '') || '|'),
         |    '|'), '||', '|') AS sym,
         |         cnt
         |  FROM $prev)""".stripMargin
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT w, array_to_string(string_split(w, ''), '|') AS sym,
       |         count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** DuckDB oracle for [[learnBpeMerges]]. */
  def bpeOracleSql(numMerges: Int): String = {
    val sel = (1 to numMerges).map(i =>
      s"SELECT $i AS rank, (SELECT pair FROM m$i) AS pair, " +
        s"(SELECT CAST(pcnt AS BIGINT) FROM m$i) AS pair_cnt")
    s"""WITH ${bpeRoundsCte(numMerges)}
       |${sel.mkString(" UNION ALL ")}
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for [[bpeTokenCounts]]: the same rounds, then the
    * final vocabulary joins back against each document's words. */
  def bpeEncodeOracleSql(numMerges: Int): String =
    s"""WITH ${bpeRoundsCte(numMerges)}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.sym, '|'))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN w$numMerges v USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Pretrained path — the production tokenizer shape: the merge table
  // SHIPS AS DATA (like the bundled Public Suffix List), training never
  // runs at encode time.
  // ------------------------------------------------------------------

  /** Encode under a FIXED merge table. Unlike [[bpeTokenCounts]] (which
    * trains first, one driver round-trip per merge batch), the pretrained
    * path has ZERO training round-trips: the corpus scans once into its
    * distinct-word table and all M merges chain into one codegen'd
    * replace expression over that vocabulary-bounded table — encode cost
    * is independent of M's history, exactly how a shipped tiktoken-style
    * vocabulary behaves. `merges` must be in learned order ("a|b" form);
    * applying them in order reproduces the trainer's segmentation on any
    * corpus (LlmSpec pins self-consistency: encode-with-learned-merges ≡
    * learn-then-encode). */
  def bpeTokenCountsPretrained(docs: DataFrame, textCol: String,
                               idCol: String,
                               merges: Seq[String]): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    val words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .select(col("w"), concat_ws("|", split(col("w"), "")).as("sym"))
    val vocab = merges.foldLeft(words)(applyMerge)
    val ntok = broadcast(vocab.select(col("w"),
      size(split(col("sym"), "\\|")).cast("long").as("ntok")))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Train on `docs` and PERSIST the merge table — the tokenizer-model
    * artifact (rank, pair, pair_cnt) a deployment trains once and every
    * later job reads ([[bpeTokenCountsWithModel]]). Completes the
    * persisted-artifact trio: MinHash index, IVF index, BPE model. */
  def writeBpeModel(docs: DataFrame, textCol: String, path: String,
                    numMerges: Int): Unit =
    Stored.write(learnBpeMerges(docs, textCol, numMerges)
      .coalesce(1), path)

  /** A persisted model's rows ([[writeBpeModel]], [[writeUnigramModel]],
    * [[writeWordpieceModel]]) in rank order. The table is bounded state
    * every encoder uses whole, so it is read and sorted on the driver
    * ([[Stored.collect]]); a model written without a schema record reads
    * through Spark. */
  private def modelRows(spark: SparkSession, path: String): Seq[Row] =
    Stored.collect(spark, path).toSeq.sortBy(_.getAs[Number]("rank").longValue)

  /** Encode against a persisted model ([[writeBpeModel]]): the merge
    * table loads as bounded driver state (M rows, ordered by rank) and
    * feeds [[bpeTokenCountsPretrained]] — no training, no dependence on
    * the training corpus. */
  def bpeTokenCountsWithModel(docs: DataFrame, textCol: String,
                              idCol: String, modelPath: String): DataFrame = {
    val merges = modelRows(docs.sparkSession, modelPath)
      .map(_.getAs[String]("pair"))
    bpeTokenCountsPretrained(docs, textCol, idCol, merges)
  }

  /** DuckDB oracle for [[bpeTokenCountsPretrained]]: the SAME fixed
    * merge literals, applied as the same chained boundary-aware replaces
    * over the distinct-word table. */
  def bpePretrainedOracleSql(merges: Seq[String]): String = {
    val rounds = merges.zipWithIndex.map { case (pair, i) =>
      val prev = if (i == 0) "w0" else s"w$i"
      val search = "|" + pair.replace("|", "||") + "|"
      val repl = "|" + pair.replace("|", "") + "|"
      def sq(s: String) = s.replace("'", "''")
      s"""w${i + 1} AS MATERIALIZED (
         |  SELECT w, replace(trim(replace(
         |      '|' || replace(sym, '|', '||') || '|',
         |      '${sq(search)}', '${sq(repl)}'),
         |    '|'), '||', '|') AS sym
         |  FROM $prev)""".stripMargin
    }
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w, array_to_string(string_split(w, ''), '|') AS sym
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE w <> ''),
       |${rounds.mkString(",\n")}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.sym, '|'))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN w${merges.length} v USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer (the SentencePiece-shape family, Kudo 2018) —
  // the OTHER published subword trainer next to BPE: seed a piece vocab
  // from substring counts, refine by EM, prune, encode by Viterbi. This
  // implementation is the VITERBI (hard-EM) variant: the E-step assigns
  // each word its single best segmentation and counts pieces
  // INTEGRALLY, which (a) keeps every piece of trained state an exact
  // integer, (b) makes piece probabilities single IEEE divisions
  // cnt/total, and therefore (c) makes the whole training replayable
  // BIT-IDENTICALLY by a second engine: Viterbi compares products of
  // identical doubles built in identical association order, so the
  // argmax — and every downstream integer count — cannot diverge. Soft
  // EM's fractional expected counts are order-dependent float sums and
  // could never hash-match an oracle; the hard variant is the published
  // simplification (Viterbi-EM) that preserves the algorithm's shape.
  //
  // Scale shape (the same discipline as BPE): all training state is
  // VOCABULARY-BOUNDED — the word-frequency table, the substring-count
  // seed, the per-round usage aggregate. The corpus is scanned once (to
  // build the word table); every EM round scans only the word table
  // with the piece probabilities broadcast, and the per-round driver
  // state is the piece table (≤ seed size). The per-word Viterbi DP is
  // partition-local Scala over that bounded table — the one place a
  // closure beats an expression tree, and it never touches corpus rows.
  // ------------------------------------------------------------------

  /** Best segmentation of `w` under piece log-free probabilities:
    * maximize Π p(piece), ties to fewer pieces, then lexicographically
    * smallest space-joined segmentation — the EXACT comparison order the
    * DuckDB oracle replays (prob DESC, k ASC, seg ASC), on bit-identical
    * doubles. Returns empty when no path exists (a character outside the
    * vocabulary — impossible after seeding, which keeps every corpus
    * character). */
  private[llm] def viterbiSegment(w: String, probs: collection.Map[String, Double],
                                  maxPieceLen: Int): Seq[String] = {
    final case class A(prob: Double, k: Int, seg: String)
    val n = w.length
    val alpha = new Array[A](n + 1)
    alpha(0) = A(1.0, 0, "")
    var j = 1
    while (j <= n) {
      var best: A = null
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        val prev = alpha(j - l)
        if (prev != null) {
          val piece = w.substring(j - l, j)
          probs.get(piece) match {
            case Some(p) =>
              val cand = A(prev.prob * p, prev.k + 1,
                if (prev.seg.isEmpty) piece else prev.seg + " " + piece)
              if (best == null || cand.prob > best.prob ||
                  (cand.prob == best.prob && (cand.k < best.k ||
                    (cand.k == best.k && cand.seg < best.seg))))
                best = cand
            case None => ()
          }
        }
        l += 1
      }
      alpha(j) = best
      j += 1
    }
    if (alpha(n) == null) Seq.empty
    else alpha(n).seg.split(" ").toIndexedSeq
  }

  /** The word-frequency table both trainer and encoder run from: one
    * corpus scan, vocabulary-bounded output. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Train the unigram vocabulary: returns (piece, cnt) for the final
    * vocab — every corpus character (floored at count 1 so no word is
    * ever unsegmentable) plus the top `vocabMulti` multi-character
    * pieces by (final Viterbi usage desc, piece asc) — plus the
    * per-round Viterbi negative log-likelihoods (nats; the hard-EM
    * monotonicity diagnostic LlmSpec pins). */
  private[llm] def unigramTrain(docs: DataFrame, textCol: String,
                                vocabMulti: Int, maxPieceLen: Int,
                                iters: Int, seedMulti: Int)
      : (Seq[(String, Long)], Array[Double]) = {
    require(vocabMulti > 0 && maxPieceLen >= 2 && iters > 0 && seedMulti >= vocabMulti,
      s"bad unigram params: vocabMulti=$vocabMulti maxPieceLen=$maxPieceLen " +
        s"iters=$iters seedMulti=$seedMulti")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Caches.track(wordTable(docs, textCol))

    // seed counts: every substring of length 1..L, weighted by word
    // frequency — one exploded aggregate over the bounded word table
    val subCounts = Caches.track(words
      .select(col("w"), col("cnt"),
        explode(expr(
          s"""filter(
             |  flatten(transform(sequence(1, length(w)), i ->
             |    transform(sequence(1, $maxPieceLen), l ->
             |      CASE WHEN i + l - 1 <= length(w)
             |           THEN substring(w, i, l) END))),
             |  x -> x IS NOT NULL)""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c")))
    val charSeed = subCounts.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multiSeed = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece").asc).limit(seedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    var pieces: Map[String, Long] = (charSeed ++ multiSeed).toMap
    val nll = new Array[Double](iters)

    def probsOf(ps: Map[String, Long]): Map[String, Double] = {
      val total = ps.valuesIterator.sum
      ps.map { case (p, c) => p -> c.toDouble / total.toDouble }
    }

    var round = 0
    while (round < iters) {
      val probs = probsOf(pieces)
      val bc = spark.sparkContext.broadcast(probs)
      val maxL = maxPieceLen
      // E-step: one scan of the word table, PERSISTED for the round —
      // the per-word Viterbi DP is the round's dominant CPU and feeds
      // two actions (usage aggregate + NLL diagnostic); without the
      // persist each would re-run the whole DP pass
      val segs = words.as[(String, Long)].map { case (w, cnt) =>
        val seg = viterbiSegment(w, bc.value, maxL)
        (cnt, seg.map(p => bc.value(p)).product, seg)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (usageRows, sumNll) = {
        val rows = segs.flatMap { case (cnt, _, seg) => seg.map(p => (p, cnt)) }
          .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .collect()
        val ll = segs.map { case (cnt, prob, _) => -cnt * math.log(prob) }
          .toDF("x").agg(coalesce(sum(col("x")), lit(0.0)))
          .first().getDouble(0)
        (rows, ll)
      }
      segs.unpersist(blocking = false)
      bc.destroy()
      nll(round) = sumNll
      val usage = usageRows.toMap
      // M-step: counts ARE the usage; characters floor at 1 (never
      // unsegmentable), zero-usage multi pieces drop
      pieces = pieces.flatMap {
        case (p, _) if p.length == 1 => Some(p -> math.max(usage.getOrElse(p, 0L), 1L))
        case (p, _) => usage.get(p).filter(_ > 0L).map(p -> _)
      }
      round += 1
    }
    // prune: all characters + top vocabMulti multi pieces
    val chars = pieces.filter(_._1.length == 1)
    val multi = pieces.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(vocabMulti)
    ((chars.toSeq ++ multi).sortBy { case (p, c) => (-c, p) }, nll)
  }

  /** Learn the unigram vocabulary over whitespace-tokenized `textCol`;
    * returns one row per kept piece: (rank 1-based by (cnt desc, piece
    * asc), piece, cnt) — integer-exact output, which is what lets the
    * DuckDB oracle ([[unigramLearnOracleSql]]) replay the whole
    * training bit-for-bit. */
  def learnUnigram(docs: DataFrame, textCol: String, vocabMulti: Int = 24,
                   maxPieceLen: Int = 4, iters: Int = 2,
                   seedMulti: Int = 48): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab, _) = unigramTrain(docs, textCol, vocabMulti, maxPieceLen,
      iters, seedMulti)
    vocab.zipWithIndex
      .map { case ((p, c), i) => (i + 1, p, c) }
      .toDF("rank", "piece", "cnt")
  }

  /** ENCODE with a freshly trained unigram vocabulary: per-document
    * token counts under the final pruned pieces' Viterbi segmentation.
    * The (word → piece count) table is vocabulary-bounded and
    * broadcasts against the corpus' exploded words — encoding costs a
    * broadcast-hash probe per word plus one per-doc sum; text never
    * shuffles. Returns (idCol, n_words, n_tokens). */
  def unigramTokenCounts(docs: DataFrame, textCol: String, idCol: String,
                         vocabMulti: Int = 24, maxPieceLen: Int = 4,
                         iters: Int = 2, seedMulti: Int = 48): DataFrame = {
    val (vocab, _) = unigramTrain(docs, textCol, vocabMulti, maxPieceLen,
      iters, seedMulti)
    unigramTokenCountsPretrained(docs, textCol, idCol, vocab)
  }

  /** ENCODE under a SHIPPED piece table (piece, cnt) — the production
    * tokenizer path (a SentencePiece-style vocabulary is data; training
    * never runs at encode time). Probabilities derive as cnt/total over
    * the shipped counts, maxPieceLen from the longest shipped piece —
    * no parameter can drift from the artifact. The shipped pieces must
    * cover every corpus character (the trainer guarantees this for its
    * own vocab; a hand-shipped table that misses one leaves those
    * words unsegmentable — counted with 0 tokens). */
  def unigramTokenCountsPretrained(docs: DataFrame, textCol: String,
                                   idCol: String,
                                   pieces: Seq[(String, Long)]): DataFrame = {
    require(pieces.nonEmpty, "pieces must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val total = pieces.map(_._2).sum
    val probs = pieces.map { case (p, c) =>
      p -> (c.toDouble / total.toDouble) }.toMap
    val maxL = pieces.map(_._1.length).max
    val bc = spark.sparkContext.broadcast(probs)
    val ntok = broadcast(wordTable(docs, textCol)
      .select(col("w")).as[String]
      .map(w => (w, viterbiSegment(w, bc.value, maxL).length.toLong))
      .toDF("w", "ntok"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Train on `docs` and PERSIST the piece table — the unigram model
    * artifact (rank, piece, cnt), completing the persisted-artifact
    * family next to [[writeBpeModel]], the MinHash index, and the IVF
    * indexes. */
  def writeUnigramModel(docs: DataFrame, textCol: String, path: String,
                        vocabMulti: Int = 24, maxPieceLen: Int = 4,
                        iters: Int = 2, seedMulti: Int = 48): Unit =
    Stored.write(learnUnigram(docs, textCol, vocabMulti, maxPieceLen, iters, seedMulti)
      .coalesce(1), path)

  /** Encode against a persisted model ([[writeUnigramModel]]): the
    * piece table loads as bounded driver state and feeds
    * [[unigramTokenCountsPretrained]] — no training, no dependence on
    * the training corpus. */
  def unigramTokenCountsWithModel(docs: DataFrame, textCol: String,
                                  idCol: String,
                                  modelPath: String): DataFrame = {
    val rows = modelRows(docs.sparkSession, modelPath)
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt")))
    unigramTokenCountsPretrained(docs, textCol, idCol, rows)
  }

  /** DuckDB oracle for [[unigramTokenCountsPretrained]]: the SAME fixed
    * piece literals as a VALUES table, probabilities as the same
    * cnt/total divisions, one unrolled Viterbi chain, the same
    * corpus-word join. */
  def unigramPretrainedOracleSql(pieces: Seq[(String, Long)],
                                 maxLen: Int = 12): String = {
    def sq(s: String) = s.replace("'", "''")
    val maxPieceLen = pieces.map(_._1.length).max
    val values = pieces
      .map { case (p, c) => s"('${sq(p)}', CAST($c AS BIGINT))" }
      .mkString(", ")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |pp AS (SELECT * FROM (VALUES $values) AS t(piece, c)),
       |probsP AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(c AS DOUBLE) /
       |      CAST((SELECT sum(c) FROM pp) AS DOUBLE) AS p
       |  FROM pp),
       |${unigramDpChain("_p", "probsP", maxLen, maxPieceLen)}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(b.k) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN best_p b USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** One unrolled Viterbi DP chain over word positions 1..`maxLen` for
    * the DuckDB oracle: CTEs `a<tag>_j` hold the best (prob, k, seg)
    * prefix state per word at position j — candidates extend each
    * `a<tag>_{j-l}` by the length-l piece ending at j, and the winner is
    * row_number() = 1 under EXACTLY the engine's comparison (prob DESC,
    * k ASC, seg ASC) on bit-identical doubles (products of identical
    * operands in identical association order). `best<tag>` picks each
    * word's full-length state. */
  private def unigramDpChain(tag: String, probsCte: String, maxLen: Int,
                             maxPieceLen: Int): String = {
    val steps = (1 to maxLen).map { j =>
      val branches = (1 to math.min(maxPieceLen, j)).map { l =>
        val src = if (j - l == 0) s"a${tag}_0" else s"a${tag}_${j - l}"
        s"""      SELECT a.w, a.cnt, a.prob * p.p AS prob, a.k + 1 AS k,
           |        CASE WHEN a.seg = '' THEN p.piece
           |             ELSE a.seg || ' ' || p.piece END AS seg
           |      FROM $src a JOIN $probsCte p
           |        ON p.piece = substr(a.w, ${j - l + 1}, $l)
           |      WHERE len(a.w) >= $j""".stripMargin
      }
      s"""a${tag}_$j AS MATERIALIZED (
         |  SELECT w, cnt, prob, k, seg FROM (
         |    SELECT u.*, row_number() OVER (PARTITION BY w
         |      ORDER BY prob DESC, k ASC, seg ASC) AS rk
         |    FROM (
         |${branches.mkString("\n      UNION ALL\n")}
         |    ) u)
         |  WHERE rk = 1)""".stripMargin
    }
    val bests = (1 to maxLen).map(j =>
      s"  SELECT w, cnt, k, seg FROM a${tag}_$j WHERE len(w) = $j")
    s"""a${tag}_0 AS MATERIALIZED (
       |  SELECT w, cnt, CAST(1.0 AS DOUBLE) AS prob, 0 AS k, '' AS seg
       |  FROM words),
       |${steps.mkString(",\n")},
       |best$tag AS MATERIALIZED (
       |${bests.mkString("\n  UNION ALL\n")})""".stripMargin
  }

  /** The training CTE prefix shared by both unigram oracles: word table,
    * substring seed, `iters` hard-EM rounds (DP chain → usage aggregate
    * → re-estimated piece table), and the pruned `final` vocabulary —
    * the SQL replay of [[unigramTrain]], step for step. */
  private def unigramTrainCtes(vocabMulti: Int, maxPieceLen: Int,
                               iters: Int, seedMulti: Int,
                               maxLen: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""${unigramDpChain(s"_r$r", s"probs${r - 1}", maxLen, maxPieceLen)},
         |usage$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT unnest(string_split(seg, ' ')) AS piece, cnt
         |    FROM best_r$r)
         |  GROUP BY piece),
         |pieces$r AS MATERIALIZED (
         |  SELECT p.piece,
         |    CAST(CASE WHEN len(p.piece) = 1
         |              THEN greatest(coalesce(u.c, 0), 1)
         |              ELSE u.c END AS BIGINT) AS c
         |  FROM pieces${r - 1} p LEFT JOIN usage$r u USING (piece)
         |  WHERE len(p.piece) = 1 OR coalesce(u.c, 0) > 0),
         |probs$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(c AS DOUBLE) /
         |      CAST((SELECT sum(c) FROM pieces$r) AS DOUBLE) AS p
         |  FROM pieces$r)""".stripMargin
    }
    s"""words AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |sub AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(sum(cnt) AS BIGINT) AS c
       |  FROM words,
       |    unnest(generate_series(1, len(w))) u(i),
       |    unnest(generate_series(1, $maxPieceLen)) v(l)
       |  WHERE i + l - 1 <= len(w)
       |  GROUP BY 1),
       |pieces0 AS MATERIALIZED (
       |  SELECT piece, c FROM sub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c,
       |      row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
       |    FROM sub WHERE len(piece) > 1)
       |  WHERE rk <= $seedMulti),
       |probs0 AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(c AS DOUBLE) /
       |      CAST((SELECT sum(c) FROM pieces0) AS DOUBLE) AS p
       |  FROM pieces0),
       |${rounds.mkString(",\n")},
       |final AS MATERIALIZED (
       |  SELECT piece, c FROM pieces$iters WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c,
       |      row_number() OVER (ORDER BY c DESC, piece ASC) AS rk
       |    FROM pieces$iters WHERE len(piece) > 1)
       |  WHERE rk <= $vocabMulti)""".stripMargin
  }

  /** DuckDB oracle for [[learnUnigram]]: the full hard-EM training
    * replayed in SQL — integer-exact output (rank, piece, cnt), with the
    * internal Viterbi argmax decisions bit-identical by construction
    * (see [[unigramDpChain]]). `maxLen` bounds the DP unroll and must
    * cover the corpus' longest word (the engine side has no such bound;
    * testdata documents max out at 8 chars). */
  def unigramLearnOracleSql(vocabMulti: Int = 24, maxPieceLen: Int = 4,
                            iters: Int = 2, seedMulti: Int = 48,
                            maxLen: Int = 12): String =
    s"""WITH ${unigramTrainCtes(vocabMulti, maxPieceLen, iters, seedMulti, maxLen)}
       |SELECT row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rank,
       |  piece, cnt
       |FROM (SELECT piece, CAST(c AS BIGINT) AS cnt FROM final)
       |ORDER BY rank""".stripMargin

  /** DuckDB oracle for [[unigramTokenCounts]]: training CTEs + one more
    * Viterbi chain under the pruned vocabulary's probabilities, joined
    * back to the corpus' exploded words. */
  def unigramEncodeOracleSql(vocabMulti: Int = 24, maxPieceLen: Int = 4,
                             iters: Int = 2, seedMulti: Int = 48,
                             maxLen: Int = 12): String =
    s"""WITH ${unigramTrainCtes(vocabMulti, maxPieceLen, iters, seedMulti, maxLen)},
       |probsF AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(c AS DOUBLE) /
       |      CAST((SELECT sum(c) FROM final) AS DOUBLE) AS p
       |  FROM final),
       |${unigramDpChain("_e", "probsF", maxLen, maxPieceLen)}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(b.k) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN best_e b USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // WordPiece tokenizer (Schuster & Nakajima 2012; the BERT trainer) —
  // the THIRD published subword family next to BPE and unigram-LM. Same
  // greedy merge loop as BPE but a LIKELIHOOD objective: each round
  // merges the adjacent pair maximizing count(ab) / (count(a)·count(b))
  // — the corpus-likelihood gain of fusing the pair under a unigram
  // model — instead of raw pair frequency. Continuation symbols carry
  // the published '##' prefix ("hugs" → h ·##u ·##g ·##s; merging
  // (##g,##s) yields ##gs, merging (h,##u) yields hu), so the learned
  // vocabulary is exactly the BERT artifact shape.
  //
  // Determinism/oracle discipline (the q_bpe_learn pattern): every
  // piece of round state is an exact integer (pair count, left/right
  // symbol counts); the argmax score is ONE IEEE double division of a
  // product of two exactly-promoted integers, built in identical
  // association order on both engines, so the per-round argmax — and
  // hence the whole training — replays bit-identically as unrolled
  // DuckDB CTEs. Ties break to the lexicographically smallest pair.
  //
  // Scale shape: identical to BPE — all state is the vocabulary-bounded
  // word-frequency table; each round is two hash aggregates over it
  // (pair counts + symbol counts), one broadcast join, and a 1-row
  // collect. UNLIKE BPE the rounds cannot batch: merging (a,b) creates
  // symbol ab whose LOW count sits in the DENOMINATOR of every new
  // pair's score, so a freshly created pair can immediately outrank all
  // remaining candidates — the disjoint-prefix proof that batches BPE
  // does not carry over, and the published trainers are sequential
  // here too. Encode broadcasts the learned (word → piece count)
  // vocabulary against the corpus; text never shuffles.
  // ------------------------------------------------------------------

  /** Memo of WordPiece trainings (same contract as [[trained]]). */
  private val trainedWp = scala.collection.mutable.Map.empty[
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int),
    () => (Seq[(Int, String, Long, Long, Long)], DataFrame)]

  /** Boundary-aware WordPiece merge: like [[applyMerge]] but the merged
    * symbol strips the second symbol's '##' continuation marker at the
    * junction ("h|##u" → "hu", "##g|##s" → "##gs"). */
  private def wpApplyMerge(df: DataFrame, pair: String): DataFrame = {
    val search = "|" + pair.replace("|", "||") + "|"
    val repl = "|" + pair.replace("|##", "") + "|"
    df.withColumn("sym", expr(
      s"replace(trim(BOTH '|' FROM replace(" +
        s"concat('|', replace(sym, '|', '||'), '|'), " +
        s"'${q(search)}', '${q(repl)}')), '||', '|')"))
  }

  private def wpTrainLoop(docs: DataFrame, textCol: String, numMerges: Int)
      : (Seq[(Int, String, Long, Long, Long)], DataFrame) = {
    val key = (docs.sparkSession,
      docs.queryExecution.analyzed.canonicalized, textCol, numMerges)
    val holder = synchronized {
      if (trainedWp.size > MaxTrained) trainedWp.clear()
      trainedWp.getOrElseUpdate(key, {
        lazy val r = wpTrainLoopUncached(docs, textCol, numMerges)
        () => r
      })
    }
    holder()
  }

  private def wpTrainLoopUncached(docs: DataFrame, textCol: String,
                                  numMerges: Int)
      : (Seq[(Int, String, Long, Long, Long)], DataFrame) = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    // one corpus scan: word-frequency table in '##'-marked symbol form
    // ("hugs" → "h|##u|##g|##s")
    val words = Caches.track(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), concat_ws("|##", split(col("w"), "")).as("sym"),
        col("cnt")))
    val pairsOf = expr(
      """filter(
        |  zip_with(split(sym, '\\|'),
        |           slice(split(sym, '\\|'), 2, size(split(sym, '\\|'))),
        |           (a, b) -> concat(a, '|', b)),
        |  x -> x is not null)""".stripMargin)

    var cur = words
    val merges = Seq.newBuilder[(Int, String, Long, Long, Long)]
    var done = 0
    var exhausted = false
    while (done < numMerges && !exhausted) {
      // per-symbol corpus frequencies — the score denominators
      val syms = cur
        .select(explode(split(col("sym"), "\\|")).as("s"), col("cnt"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("scnt"))
      val best = cur
        .select(explode(pairsOf).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
        .join(broadcast(syms.select(
          col("s").as("s1"), col("scnt").as("ca"))),
          expr("substring_index(pair, '|', 1) = s1"))
        .join(broadcast(syms.select(
          col("s").as("s2"), col("scnt").as("cb"))),
          expr("substring_index(pair, '|', -1) = s2"))
        .orderBy((col("pcnt").cast("double")
          / (col("ca").cast("double") * col("cb").cast("double"))).desc,
          col("pair").asc)
        .limit(1)
        .select(col("pair"), col("pcnt"), col("ca"), col("cb"))
        .collect()
      if (best.isEmpty) exhausted = true // fully merged: nothing to learn
      else {
        val r = best.head
        val pair = r.getString(0)
        done += 1
        merges += ((done, pair, r.getLong(1), r.getLong(2), r.getLong(3)))
        // bound lineage: one replace per round, table is vocabulary-sized
        cur = wpApplyMerge(cur, pair).localCheckpoint()
      }
    }
    (merges.result(), cur)
  }

  /** Learn the first `numMerges` WordPiece merges over
    * whitespace-tokenized `textCol`. Returns one row per merge:
    * (rank, pair "a|##b", pair_cnt, left_cnt, right_cnt) — the score
    * that chose the pair is pair_cnt/(left_cnt·right_cnt), reported via
    * its three exact-integer components so the output is float-free. */
  def learnWordpieceMerges(docs: DataFrame, textCol: String,
                           numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _) = wpTrainLoop(docs, textCol, numMerges)
    import spark.implicits._
    merges.toDF("rank", "pair", "pair_cnt", "left_cnt", "right_cnt")
  }

  /** ENCODE with the freshly learned WordPiece vocabulary: per-document
    * piece counts under the first `numMerges` merges, via the trained
    * segmentation table (every corpus word is in the table by
    * construction; the published greedy longest-match inference rule is
    * for out-of-training words and coincides with the trained
    * segmentation only on them — this encode reports the TRAINED
    * segmentation, the exact analogue of [[bpeTokenCounts]]). */
  def wordpieceTokenCounts(docs: DataFrame, textCol: String, idCol: String,
                           numMerges: Int): DataFrame = {
    val (_, vocab) = wpTrainLoop(docs, textCol, numMerges)
    val ntok = broadcast(vocab.select(col("w"),
      size(split(col("sym"), "\\|")).cast("long").as("ntok")))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Shared CTE prefix for the WordPiece oracles: word table in
    * '##'-marked form, then per round symbol counts → pair counts →
    * likelihood argmax → junction-aware replace. `w{numMerges}` is the
    * final vocabulary. */
  private def wpRoundsCte(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { i =>
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""s$i AS MATERIALIZED (
         |  SELECT s, sum(cnt) AS scnt FROM (
         |    SELECT unnest(string_split(sym, '|')) AS s, cnt FROM $prev)
         |  GROUP BY 1),
         |p$i AS MATERIALIZED (
         |  SELECT sp.sym[g.i] || '|' || sp.sym[g.i+1] AS pair,
         |         sum(w.cnt) AS pcnt
         |  FROM $prev w,
         |       LATERAL (SELECT string_split(w.sym, '|') AS sym) sp,
         |       LATERAL (SELECT unnest(generate_series(1, len(sp.sym)-1)) AS i) g
         |  GROUP BY 1),
         |m$i AS MATERIALIZED (
         |  SELECT p.pair, p.pcnt, a.scnt AS ca, b.scnt AS cb
         |  FROM p$i p
         |  JOIN s$i a ON a.s = string_split(p.pair, '|')[1]
         |  JOIN s$i b ON b.s = string_split(p.pair, '|')[2]
         |  ORDER BY CAST(p.pcnt AS DOUBLE)
         |             / (CAST(a.scnt AS DOUBLE) * CAST(b.scnt AS DOUBLE))
         |           DESC, p.pair
         |  LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, replace(trim(replace(
         |      '|' || replace(sym, '|', '||') || '|',
         |      '|' || replace((SELECT pair FROM m$i), '|', '||') || '|',
         |      '|' || replace((SELECT pair FROM m$i), '|##', '') || '|'),
         |    '|'), '||', '|') AS sym,
         |         cnt
         |  FROM $prev)""".stripMargin
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT w, array_to_string(string_split(w, ''), '|##') AS sym,
       |         count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** DuckDB oracle for [[learnWordpieceMerges]]. */
  def wordpieceOracleSql(numMerges: Int): String = {
    val sel = (1 to numMerges).map(i =>
      s"SELECT $i AS rank, (SELECT pair FROM m$i) AS pair, " +
        s"(SELECT CAST(pcnt AS BIGINT) FROM m$i) AS pair_cnt, " +
        s"(SELECT CAST(ca AS BIGINT) FROM m$i) AS left_cnt, " +
        s"(SELECT CAST(cb AS BIGINT) FROM m$i) AS right_cnt")
    s"""WITH ${wpRoundsCte(numMerges)}
       |${sel.mkString(" UNION ALL ")}
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB oracle for [[wordpieceTokenCounts]]: the training rounds'
    * final vocabulary joined back against each document's words. */
  def wordpieceEncodeOracleSql(numMerges: Int): String =
    s"""WITH ${wpRoundsCte(numMerges)}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.sym, '|'))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN w$numMerges v USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Encode under a FIXED WordPiece merge table — the BERT deployment
    * shape (vocab.txt ships with the model; training never runs at
    * encode time): zero driver round-trips, all M junction-aware merges
    * chain into one codegen'd replace expression over the distinct-word
    * table ([[bpeTokenCountsPretrained]]'s contract with '##'-marked
    * symbols). `merges` must be in learned order ("a|##b" form). */
  def wordpieceTokenCountsPretrained(docs: DataFrame, textCol: String,
                                     idCol: String,
                                     merges: Seq[String]): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    val words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .select(col("w"), concat_ws("|##", split(col("w"), "")).as("sym"))
    val vocab = merges.foldLeft(words)(wpApplyMerge)
    val ntok = broadcast(vocab.select(col("w"),
      size(split(col("sym"), "\\|")).cast("long").as("ntok")))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Train on `docs` and PERSIST the WordPiece merge table — the third
    * tokenizer family's model artifact, completing the BPE/unigram/
    * WordPiece persisted-artifact symmetry ([[writeBpeModel]],
    * [[writeUnigramModel]]). */
  def writeWordpieceModel(docs: DataFrame, textCol: String, path: String,
                          numMerges: Int): Unit =
    Stored.write(learnWordpieceMerges(docs, textCol, numMerges)
      .coalesce(1), path)

  /** Encode against a persisted WordPiece model
    * ([[writeWordpieceModel]]): the merge table loads as bounded driver
    * state (M rows, ordered by rank) and feeds
    * [[wordpieceTokenCountsPretrained]] — no training, no dependence on
    * the training corpus. */
  def wordpieceTokenCountsWithModel(docs: DataFrame, textCol: String,
                                    idCol: String,
                                    modelPath: String): DataFrame = {
    val merges = modelRows(docs.sparkSession, modelPath)
      .map(_.getAs[String]("pair"))
    wordpieceTokenCountsPretrained(docs, textCol, idCol, merges)
  }

  /** BERT's published runtime segmentation rule (the
    * tokenization.py WordpieceTokenizer): from the current position take
    * the LONGEST vocabulary piece (word-initial bare, continuations
    * '##'-prefixed); if no piece matches, the WHOLE word becomes one
    * [UNK] token. Returns Some(pieceCount) or None for [UNK]. Greedy
    * longest-match is deterministic by construction — no scores, no
    * ties. */
  private[llm] def greedyWordpiece(w: String, vocab: Set[String],
                                   maxSubLen: Int): Option[Int] = {
    val n = w.length
    var pos = 0
    var k = 0
    while (pos < n) {
      var l = math.min(maxSubLen, n - pos)
      var found = -1
      while (l >= 1 && found < 0) {
        val cand = (if (pos == 0) "" else "##") + w.substring(pos, pos + l)
        // the pos-0 guard keeps a word literally starting with '##' from
        // matching a continuation piece — word-initial matches must be
        // bare pieces (the documented contract, mirrored by the oracle)
        if (vocab.contains(cand) && (pos > 0 || !cand.startsWith("##")))
          found = l
        l -= 1
      }
      if (found < 0) return None
      pos += found
      k += 1
    }
    Some(k)
  }

  /** Encode under a SHIPPED vocab.txt-shape piece set with BERT's greedy
    * longest-match inference ([[greedyWordpiece]]) — the deployment path
    * when only the PIECE SET ships (BERT's vocab.txt carries no merge
    * order, so the merge-replay encoders cannot run): per-document
    * (n_words, n_tokens, n_unk), an un-segmentable word counting as ONE
    * [UNK] token. The UNK rate doubles as a production quality signal —
    * a high-UNK document is script/encoding noise relative to the vocab.
    *
    * Scale shape (the [[unigramTokenCountsPretrained]] pattern): the
    * piece set broadcasts as driver state, segmentation runs once per
    * DISTINCT word on the vocabulary-bounded word table, and the
    * (word → counts) table broadcasts back against the exploded corpus —
    * text never shuffles. */
  def wordpieceTokenCountsGreedy(docs: DataFrame, textCol: String,
                                 idCol: String,
                                 vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxSub = vocab.map(p =>
      if (p.startsWith("##")) p.length - 2 else p.length).max
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    val ntok = broadcast(wordTable(docs, textCol)
      .select(col("w")).as[String]
      .map { w =>
        greedyWordpiece(w, bc.value, maxSub) match {
          case Some(k) => (w, k.toLong, 0L)
          case None    => (w, 1L, 1L)
        }
      }
      .toDF("w", "ntok", "unk"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(ntok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"),
        sum(col("unk")).as("n_unk"))
  }

  /** DuckDB oracle for [[wordpieceTokenCountsGreedy]]: the greedy match
    * unrolled over `maxSteps` piece-consumption steps (each step
    * advances ≥ 1 character, so any word of length ≤ maxSteps
    * finishes). State per word is (pos, k, unk); each step takes the
    * longest vocabulary piece at `pos` via a max() over the piece
    * VALUES table, flags [UNK] when nothing matches, and finished words
    * carry through unchanged. */
  def wordpieceGreedyOracleSql(vocab: Seq[String],
                               maxSteps: Int = 12): String = {
    def sq(s: String) = s.replace("'", "''")
    val values = vocab.map(p => s"('${sq(p)}')").mkString(", ")
    val steps = (1 to maxSteps).map { s =>
      s"""g$s AS MATERIALIZED (
         |  SELECT w, cnt,
         |    CASE WHEN pos >= len(w) OR unk = 1 THEN pos
         |         WHEN bl IS NULL THEN len(w)
         |         ELSE pos + bl END AS pos,
         |    CASE WHEN pos >= len(w) OR unk = 1 THEN k
         |         WHEN bl IS NULL THEN 1
         |         ELSE k + 1 END AS k,
         |    CASE WHEN unk = 1 THEN 1
         |         WHEN pos < len(w) AND bl IS NULL THEN 1
         |         ELSE 0 END AS unk
         |  FROM (
         |    SELECT g.*, (
         |      SELECT max(CASE WHEN g.pos = 0 THEN len(v.piece)
         |                      ELSE len(v.piece) - 2 END)
         |      FROM vocab v
         |      WHERE CASE WHEN g.pos = 0
         |          THEN v.piece NOT LIKE '##%'
         |               AND v.piece = substr(g.w, 1, len(v.piece))
         |          ELSE v.piece LIKE '##%'
         |               AND len(v.piece) > 2
         |               AND substr(v.piece, 3)
         |                   = substr(g.w, g.pos + 1, len(v.piece) - 2)
         |          END) AS bl
         |    FROM g${s - 1} g))""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |vocab AS (SELECT * FROM (VALUES $values) AS t(piece)),
       |g0 AS (SELECT w, cnt, 0 AS pos, 0 AS k, 0 AS unk FROM words),
       |$steps
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(CASE WHEN g.unk = 1 THEN 1 ELSE g.k END) AS BIGINT)
       |    AS n_tokens,
       |  CAST(sum(g.unk) AS BIGINT) AS n_unk
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN g$maxSteps g USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[wordpieceTokenCountsPretrained]]: the SAME
    * fixed merge literals applied as chained junction-aware replaces
    * over the '##'-marked distinct-word table. */
  def wordpiecePretrainedOracleSql(merges: Seq[String]): String = {
    val rounds = merges.zipWithIndex.map { case (pair, i) =>
      val prev = if (i == 0) "w0" else s"w$i"
      val search = "|" + pair.replace("|", "||") + "|"
      val repl = "|" + pair.replace("|##", "") + "|"
      def sq(s: String) = s.replace("'", "''")
      s"""w${i + 1} AS MATERIALIZED (
         |  SELECT w, replace(trim(replace(
         |      '|' || replace(sym, '|', '||') || '|',
         |      '${sq(search)}', '${sq(repl)}'),
         |    '|'), '||', '|') AS sym
         |  FROM $prev)""".stripMargin
    }
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w, array_to_string(string_split(w, ''), '|##') AS sym
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE w <> ''),
       |${rounds.mkString(",\n")}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(string_split(v.sym, '|'))) AS BIGINT) AS n_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN w${merges.length} v USING (w)
       |WHERE d.w <> ''
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }
}
