package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.CutSyntax
import graft.Tables
import graft.QueryKit._
import graft.expressions.GraftExtensions
import graft.functions.TextAnalytics._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language-ID, quality scoring, token counting,
  * fingerprinting, stopword removal, exact + MinHash-LSH dedup, SimHash).
  *
  * Scale notes: per-doc primitives are narrow HOF expressions (no shuffle).
  * Exact dedup groups on an 8-byte fingerprint, not the full text — the
  * shuffle moves hashes, not documents. MinHash-LSH turns the quadratic
  * near-dup problem into an equi-join on band keys: candidate generation
  * shuffles `docs × n_bands` small rows, and only candidate pairs (a tiny
  * fraction) are verified with exact Jaccard. This is the standard
  * shingle→minhash→band→bucket-join pipeline and survives 100 TB because
  * nothing ever materializes the n² pair space.
  */
object TextQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Shared retrieval frames (the ONE implementation of the inverted
    * index — q_bm25_topk, q_hard_negatives and q_rrf_fusion all build
    * on it, so a k1/b/universe edit cannot desync them):
    *  - enriched postings (cand_id, h, term6, wd): BM25 term (6-dp value
    *    scaled to an integer LONG — see the scaled-long note below) and
    *    tf·idf weight per posting;
    *  - qpost (query_id, h, qtf): query term frequencies;
    *  - widf (h, df, idf): the vocabulary dictionary (broadcast-sized).
    *
    * FIXED query universe (doc_id % 97 = 0 AND doc_id < 5000 — the full
    * id space at the largest test SF, so no output changes at any SF):
    * workload is query-determined, not corpus-proportional; a query set
    * growing with the corpus made the scaling probe quadratic by
    * construction (the q_ann_pq precedent). All score math and the
    * df/dl joins run on the postings-sized frame BEFORE any query
    * fan-out (the BM25 term is query-independent), and the
    * vocabulary-sized dictionary BROADCASTS — a shuffle join on |vocab|
    * keys is the classic skew trap.
    *
    * SCALED-LONG sums: every retrieval aggregate is an exact sum of
    * 6-dp-rounded values. Summing them as DECIMAL(18,6) (the oracle's
    * form) costs a per-row Decimal conversion plus Decimal add in the
    * hot aggregate — measured 2-3x the whole scoring join+agg at sf0.1.
    * Instead the 6-dp value v is stored/derived as the integer v·1e6 in
    * a LONG and summed with integer adds; Σ(v·1e6)/1e6 in double equals
    * CAST(SUM(DECIMAL) AS DOUBLE) exactly (the long sum is the same
    * rational, ≪ 2^53, and both casts are correctly rounded), and
    * ordering by the long IS ordering by the decimal. The oracle SQL
    * keeps the DECIMAL form — the cross-engine hash proves equality. */
  private def retrievalFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // ensure-cached (FrameCache): tokenize → postings → idf → enriched
    // terms builds ONCE per JVM and lands as parquet; q_bm25_topk,
    // q_rrf_fusion and q_hard_negatives all read the same persisted
    // postings — the production split between index maintenance and the
    // per-query path (previously each query rebuilt the whole chain)
    val f = graft.operators.FrameCache.ensure(s, s"$dir#retrieval") {
      val toks = t(s, dir, "documents")
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), explode(col("th")).as("h"))
        .cut() // postings, doc lengths, query terms
      val isQuery = col("doc_id") % 97 === 0 && col("doc_id") < 5000
      val corpus = toks.filter(!isQuery)
      val post = corpus.groupBy(col("doc_id").as("cand_id"), col("h"))
        .agg(count(lit(1)).as("tf"))
        .cut() // dl, df and the term math all read it
      // doc length = Σ tf over the doc's postings — no second corpus scan
      val dl = post.groupBy(col("cand_id")).agg(sum(col("tf")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("tdl"))
      val dfreq = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val widf = dfreq.crossJoin(broadcast(stats.select(col("nn"))))
        .select(col("h"), col("df"),
          log(col("nn").cast("double") / col("df").cast("double")).as("idf"))
      val qpost = toks.filter(isQuery)
        .groupBy(col("doc_id").as("query_id"), col("h"))
        .agg(count(lit(1)).as("qtf"))
      val enriched = post.join(dl, Seq("cand_id"))
        .join(broadcast(widf), Seq("h"))
        .crossJoin(broadcast(stats))
        .withColumn("term", round(
          log(((col("nn") - col("df")).cast("double") + 0.5) /
            (col("df").cast("double") + 0.5) + 1.0) *
            (col("tf").cast("double") * 2.2) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl").cast("double") *
                col("nn").cast("double") / col("tdl").cast("double"))), 6))
        // the 6-dp term, pre-scaled to its LONG form at BUILD time so
        // the per-query hot path pays zero per-row conversion (term > 0,
        // and round's output sits within 1e-4 of the integer, so the
        // +0.5-then-truncate recovers it exactly)
        .withColumn("term6",
          (col("term") * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("wd", col("tf").cast("double") * col("idf"))
        .select(col("cand_id"), col("h"), col("term6"), col("wd"))
      Seq("enriched" -> enriched, "qpost" -> qpost, "widf" -> widf)
    }
    (f("enriched"), f("qpost"), f("widf"))
  }

  /** BM25 (query, cand) scores: columns query_id, cand_id, n_terms,
    * score6 (scaled-long — divide by 1e6 in double for the value; order
    * by it directly). See [[retrievalFrames]] for the shared core. */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val (enriched, qpost, _) = retrievalFrames(s, dir)
    val qterms = qpost.select(col("query_id"), col("h")).distinct()
    enriched.join(broadcast(qterms), Seq("h"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term6")).as("score6"))
  }

  // The MinHash/LSH kernel (signatures → bands → candidate pairs →
  // exact-Jaccard verify) lives in operators.DedupIndex — the persisted,
  // incrementally-updatable production form. These thin aliases keep the
  // ad-hoc queries and the oracle CTE builders on that single source.
  import graft.operators.DedupIndex
  private val nMinhash = DedupIndex.nMinhash
  private val nBands = DedupIndex.nBands

  private def signatures(docs: DataFrame): DataFrame =
    DedupIndex.signatures(docs)

  private def lshCandidatePairs(sig: DataFrame): DataFrame =
    DedupIndex.candidatePairs(DedupIndex.bandTable(sig))

  private def verifyPairs(pairs: DataFrame, toksets: DataFrame): DataFrame =
    DedupIndex.verifyPairs(pairs, toksets)

  private def hashedTokset(src: DataFrame): DataFrame =
    DedupIndex.hashedTokset(src)

  /** Manku block-permutation parameters for the SimHash hamming-≤3 join
    * (Manku/Jain/Sarma, WWW'07 §3): the 60-bit signature splits into
    * [[shBlocks]] 10-bit blocks; each of the C(6,3) = 20 tables keys on a
    * distinct 3-block subset (30-bit key). EXACT by pigeonhole: ≤3
    * differing bits dirty ≤3 blocks, leaving ≥3 clean — every 3-subset of
    * the clean blocks is some table's key, so at least one table matches.
    * vs the round-3 4×15-bit single-block tables: 2³⁰ buckets per table
    * instead of 2¹⁵ (saturation moves from n ≈ 0.5M to n ≈ 17B docs) at
    * the cost of 20 band rows per doc instead of 4 — the standard
    * capacity/table-count trade, tuned toward the 100 TB corpus. */
  private val shBlocks = 6
  private val shBlockBits = 10
  private val shCombos: Seq[(Int, Seq[Int])] =
    (0 until shBlocks).combinations(3).toSeq.map(_.toSeq).zipWithIndex
      .map { case (cs, t) => (t, cs) }

  /** Spark band structs: one (band, bkey) per Manku table for `sh`. */
  private def mankuBandCols(sh: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    shCombos.map { case (tId, cs) =>
      val mask = (1L << shBlockBits) - 1
      val key = cs.zipWithIndex.map { case (c, pos) =>
        shiftright(sh, c * shBlockBits).bitwiseAND(lit(mask)) *
          lit(1L << ((cs.length - 1 - pos) * shBlockBits))
      }.reduce(_ + _)
      struct(lit(tId).as("band"), key.as("bkey"))
    }

  /** DuckDB twin of [[mankuBandCols]]: a `combos(t, c0, c1, c2)` VALUES
    * CTE plus the 3-block key expression. */
  private def mankuCombosDuck: String =
    shCombos.map { case (t, cs) => s"($t, ${cs.mkString(", ")})" }.mkString(", ")
  private def mankuKeyDuck(sh: String): String = {
    val m = (1L << shBlockBits) - 1
    Seq("c0", "c1", "c2").zipWithIndex.map { case (c, pos) =>
      s"((($sh >> ($c * $shBlockBits)) & $m) << ${(2 - pos) * shBlockBits})"
    }.mkString(" | ")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace tokens + distinct tokens + chars.
    // graft_tokenstats computes the token stats in one native pass (the
    // HOF twin recomputes the split per consumer — see TokenStats docs).
    "q_token_count" -> ((s, dir) => {
      GraftExtensions.register(s)
      t(s, dir, "documents")
        .withColumn("ts", expr("graft_tokenstats(text)"))
        .select(col("doc_id"),
          col("ts.n_tokens").as("n_tokens"),
          col("ts.n_distinct").as("n_distinct"),
          length(col("text")).as("n_chars_calc"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish REGEX pre-tokenization counts — the GPT-2 pre-tokenizer's
    // class structure (maximal letter runs / digit runs / punctuation
    // runs; the real pattern's " ?" prefix changes token TEXT, not run
    // boundaries, so per-class counts are identical without it). The
    // synthetic corpus is pure lowercase words, so mixed content is
    // PLANTED (versioned-release and phone-ish tails) to give the digit
    // and punctuation classes real work. Map-only: three
    // regexp_extract_all passes inside codegen, one exchange for the
    // presentation sort; Java regex and RE2 agree on these constructs,
    // which is what keeps the oracle bit-identical.
    "q_pretokenize" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" release v"), (col("doc_id") % 9).cast("string"),
              lit("."), (col("doc_id") % 4).cast("string"),
              lit("-beta!"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" build #"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit(" (stable)"))).otherwise(lit(""))).as("txt"))
      val words = regexp_extract_all(col("txt"), lit("[a-z]+"), lit(0))
      val nums = regexp_extract_all(col("txt"), lit("[0-9]+"), lit(0))
      val punct = regexp_extract_all(col("txt"), lit("[^a-z0-9 ]+"), lit(0))
      d.select(col("doc_id"),
          size(words).cast("long").as("n_word"),
          size(nums).cast("long").as("n_num"),
          size(punct).cast("long").as("n_punct"),
          (size(words) + size(nums) + size(punct)).cast("long").as("n_tok"),
          r6(expr("aggregate(regexp_extract_all(txt, '[a-z]+', 0), 0L, " +
            "(a, w) -> a + length(w))").cast("double") /
            greatest(size(words), lit(1)).cast("double")).as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/stopword/type-token-ratio heuristics over
    // the one-pass native token stats (all consumers are GetStructField).
    "q_quality_score" -> ((s, dir) => {
      GraftExtensions.register(s)
      t(s, dir, "documents")
        .withColumn("ts", expr("graft_tokenstats(text)"))
        .select(col("doc_id"),
          col("ts.n_tokens").as("n_tokens"),
          r6(col("ts.stop_hits").cast("double") / col("ts.n_tokens"))
            .as("stop_ratio"),
          r6(col("ts.n_distinct").cast("double") / col("ts.n_tokens"))
            .as("ttr"),
          r6((length(col("text")) - col("ts.n_tokens") + 1) /
            col("ts.n_tokens").cast("double")).as("avg_token_len"),
          when(col("n_chars") < 200, "short")
            .when(col("n_chars") < 400, "medium")
            .otherwise("long").as("len_bin"))
        .orderBy(col("doc_id"))
    }),

    // Gopher document-quality rules (Rae et al. 2021, Appendix A1.1) —
    // the PUBLISHED curation gate, distinct from q_quality_score's
    // generic heuristics: word-count bounds [50, 100k], mean word
    // length [3, 10], symbol-to-word ratio (# + ellipsis) ≤ 0.1,
    // bullet-start lines ≤ 90%, ellipsis-end lines ≤ 30%, words with an
    // alphabetic character ≥ 80%, and ≥ 2 distinct members of the
    // 8-stopword set. The synthetic corpus is single-line prose, so
    // bullet/ellipsis lines and symbol runs are PLANTED on
    // deterministic ids (the q_pii_scan convention) to exercise the
    // line rules against known ground truth. Scale shape: map-only —
    // one projection pass, no shuffle before the presentation sort.
    // Every ratio is ONE pinned 6-dp division and `passes` gates on the
    // ROUNDED values, so both engines decide boundaries identically.
    "q_gopher_rules" -> ((s, dir) => {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      t(s, dir, "documents")
        .withColumn("txt", concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(
            "\n- first bullet item\n- second bullet item\nto be continued..."))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\n#### $$$ ####"))
            .otherwise(lit(""))))
        .withColumn("words", split(col("txt"), "\\s+"))
        .withColumn("lines", split(col("txt"), "\n"))
        .withColumn("n_words", size(col("words")))
        .withColumn("mean_word_len", r6(
          length(regexp_replace(col("txt"), "\\s", "")).cast("double") /
            col("n_words")))
        .withColumn("symbol_ratio", r6(
          (expr("length(txt) - length(replace(txt, '#', ''))") +
            expr("(length(txt) - length(replace(txt, '...', ''))) div 3"))
            .cast("double") / col("n_words")))
        .withColumn("frac_bullet_lines", r6(
          expr("size(filter(lines, l -> l LIKE '- %'))").cast("double") /
            size(col("lines"))))
        .withColumn("frac_ellipsis_lines", r6(
          expr("size(filter(lines, l -> l LIKE '%...'))").cast("double") /
            size(col("lines"))))
        .withColumn("frac_alpha_words", r6(
          expr("size(filter(words, w -> w rlike '[a-z]'))").cast("double") /
            col("n_words")))
        .withColumn("n_stop_distinct",
          stops.map(w => col("txt").rlike(s"\\b$w\\b").cast("int"))
            .reduce(_ + _))
        .withColumn("passes",
          col("n_words").between(50, 100000) &&
            col("mean_word_len").between(3, 10) &&
            col("symbol_ratio") <= 0.1 &&
            col("frac_bullet_lines") <= 0.9 &&
            col("frac_ellipsis_lines") <= 0.3 &&
            col("frac_alpha_words") >= 0.8 &&
            col("n_stop_distinct") >= 2)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("frac_bullet_lines"),
          col("frac_ellipsis_lines"), col("frac_alpha_words"),
          col("n_stop_distinct"), col("passes"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID: marker-vocabulary scoring + first-wins argmax; all five
    // scores come from the single tokenstats pass.
    "q_lang_id" -> ((s, dir) => {
      GraftExtensions.register(s)
      val scored = t(s, dir, "documents")
        .withColumn("ts", expr("graft_tokenstats(text)"))
      val withScores = langMarkers.foldLeft(scored) { case (df, (l, _)) =>
        df.withColumn(s"s_$l", col(s"ts.s_$l"))
      }
      withScores
        .withColumn("lang_pred", expr(langArgmax(l => s"s_$l")))
        .select(col("doc_id") +: col("lang") +: col("lang_pred") +:
          (col("lang_pred") === col("lang")).cast("int").as("is_match") +:
          langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
        .orderBy(col("doc_id"))
    }),

    // Zipf rank-frequency fit — the corpus-statistics diagnostic a
    // tokenizer/mixture designer reads before trusting a corpus (natural
    // text sits near slope −1; a synthetic or template-heavy corpus
    // shows up immediately as a flat or broken power law). Log-log OLS
    // of count on rank over the token-count table, the q_linreg_impute
    // closed form. Scale shape: ONE token-count aggregation over the
    // corpus; the rank window and the regression run on the VOCAB-sized
    // frame (bounded by |vocab|, never corpus rows — the global window
    // sits over the aggregate, which the PlanSpec sweep verifies).
    "q_zipf_fit" -> ((s, dir) => {
      import graft.functions.TextAnalytics.tokenHashesSpark
      val counts = t(s, dir, "documents")
        .select(explode(expr(tokenHashesSpark("text"))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val ranked = counts.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("h"))).cast("double"))
      ranked.agg(
          count(lit(1)).as("vocab_size"),
          sum(col("cnt")).as("n_tokens"),
          (covar_pop(log(col("cnt")), log(col("rnk"))) /
            var_pop(log(col("rnk")))).as("slope_raw"),
          avg(log(col("cnt"))).as("ybar"), avg(log(col("rnk"))).as("xbar"),
          corr(log(col("rnk")), log(col("cnt"))).as("r"))
        .select(col("vocab_size"), col("n_tokens"),
          r6(col("slope_raw")).as("zipf_slope"),
          r6(col("ybar") - r6(col("slope_raw")) * col("xbar")).as("ln_c"),
          r6(col("r") * col("r")).as("r2"))
    }),

    // Document fingerprinting: polynomial rolling hash of the full text.
    "q_doc_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr(charHashSpark("text")).as("fp"),
          (expr(charHashSpark("text")) % 1024).as("fp_bucket"))
        .orderBy(col("doc_id"))
    }),

    // SUBSTRING-level duplication screen (the Lee et al. "Deduplicating
    // Training Data" family — exact duplicated SPANS across documents,
    // which doc/chunk-level dedup cannot see): every 64-char window at
    // stride 16 fingerprints with the portable rolling hash; a window
    // hash held by ≥2 distinct docs is cross-doc duplicated; each doc
    // reports its duplicated-window fraction (the curation filter's
    // signal). Stride-16 is the scale screen — windows per doc ≈ len/16,
    // the hash table is linear in the corpus, and the group-by shuffles
    // 8-byte hashes, never text. A true suffix-array form (stride 1 +
    // winnowing) only changes the sampling density, not the shape.
    // Aligned boilerplate tails are injected on every 20th doc (stride
    // sampling only catches equal-residue offsets — the classic
    // stride-vs-recall trade, so the injection appends a fixed LONG tail
    // giving many shared windows across equal-residue docs; the
    // synthetic corpus has no natural cross-doc spans).
    "q_substring_dup" -> ((s, dir) => {
      GraftExtensions.register(s)
      val win = 64
      val stride = 16
      val tail = " standard legal disclaimer appended to every syndicated document" * 6
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") % 20 === 0, concat(col("text"), lit(tail)))
            .otherwise(col("text")))
      val wins = d.select(col("doc_id"),
        explode(expr(s"graft_winhash(text, $win, $stride)")).as("whash"))
      val dupHashes = wins.distinct()
        .groupBy(col("whash")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1)
        .select(col("whash"), lit(1L).as("dup"))
      wins.join(dupHashes, Seq("whash"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_win"),
          sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_win"), col("n_dup"),
          r6(col("n_dup").cast("double") / col("n_win").cast("double")).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // WINNOWED substring duplication — the guaranteed-recall form of
    // q_substring_dup (Schleimer et al. winnowing, SIGMOD'03): stride-1
    // rolling hashes (O(n) recurrence, graft_winnow kernel) winnowed to
    // the min of every k=16-hash run. ANY shared span of ≥ win + k − 1 =
    // 79 chars yields a shared fingerprint at ANY alignment — the
    // property stride sampling lacks (it only catches equal-residue
    // offsets). Density ~2/(k+1) per position keeps the corpus-wide
    // fingerprint table in the same linear cost class. The injection
    // makes the point: every 20th doc gets the SAME boilerplate at a
    // doc-dependent misalignment ('x' padding of doc_id % 16 chars);
    // winnow still flags every one of them. The oracle reproduces the
    // winnow exactly: a run's rightmost-min VALUE is just the run min,
    // and fingerprints are the distinct min set.
    "q_substring_winnow" -> ((s, dir) => {
      GraftExtensions.register(s)
      val boiler = " standard legal disclaimer appended to every syndicated document" * 4
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") % 20 === 0,
            concat(col("text"),
              expr("repeat('x', CAST(doc_id % 16 AS INT))"), lit(boiler)))
            .otherwise(col("text")))
      val fps = d.select(col("doc_id"),
        explode(expr("graft_winnow(text, 64, 16)")).as("fp"))
      val dup = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1)
        .select(col("fp"), lit(1L).as("dup"))
      fps.join(dup, Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_fp"), col("n_dup"),
          r6(col("n_dup").cast("double") / col("n_fp").cast("double")).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // Stopword removal (ref: StopWordsRemover, modelling_1 cell 23).
    "q_stopword_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("kept",
          expr(s"filter(${tokensSpark("text")}, t -> NOT t IN ${stopwords.map(w => s"'$w'").mkString("(", ", ", ")")})"))
        .select(col("doc_id"),
          expr("size(kept)").as("n_kept"),
          expr("concat_ws(' ', slice(kept, 1, 5))").as("kept_head"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup via hash-groupBy on the 8-byte fingerprint (duplicates
    // injected — the synthetic corpus has none). At scale the shuffle key
    // is the hash, never the document body.
    "q_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      d.unionByName(dups)
        .withColumn("fp", expr(charHashSpark("text")))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("canonical_id"), col("n_copies"))
        .orderBy(col("canonical_id"))
    }),

    // MinHash signatures (8 permutations over 3-token shingles).
    "q_minhash_signature" -> ((s, dir) => {
      signatures(t(s, dir, "documents"))
        .drop("text")
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH near-dup candidate pairs + exact-Jaccard verification.
    "q_dedup_minhash_lsh" -> ((s, dir) => {
      GraftExtensions.register(s)
      val pairs = lshCandidatePairs(signatures(t(s, dir, "documents")))
      val toks = hashedTokset(t(s, dir, "documents"))
      verifyPairs(pairs, toks)
        .filter(col("jac") >= 0.3)
        .select(col("doc_a"), col("doc_b"), col("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Flagship training-data pipeline: quality filter → exact dedup (hash
    // keep-first) → MinHash-LSH near-dup removal (drop the higher id of
    // each verified pair) — the composed corpus-cleaning flow a 100 TB
    // pretraining pipeline runs, expressed as one lazy DAG.
    "q_corpus_clean" -> ((s, dir) => {
      GraftExtensions.register(s)
      // r15 spread A/B: REJECTED here — interleaved min-of-10 read the
      // spread front 1.25x WORSE (1.27→1.58 s); the downstream dedup
      // window + LSH chain dominates and the extra text exchange never
      // pays back
      val qual = t(s, dir, "documents")
        .withColumn("ts", expr("graft_tokenstats(text)"))
        .withColumn("n_tokens", col("ts.n_tokens"))
        .withColumn("stop_ratio",
          col("ts.stop_hits").cast("double") / col("ts.n_tokens"))
        .filter(col("n_tokens") >= 30 && col("stop_ratio") <= 0.4)
        .withColumn("fp", expr(charHashSpark("text")))
        // minimal-column contract for BOTH shuffles below (the dedup
        // window's fp-hash exchange and the shared doc_id exchange):
        // lang/source/n_chars are dead downstream, and at 10x the
        // payload — not the partitioning — is the exchange cost
        // (VERDICT r13 item 1)
        .select(col("doc_id"), col("text"), col("n_tokens"),
          col("stop_ratio"), col("fp"))
      // barrier: `exact` feeds three consumers (signatures, token sets,
      // the final anti-join) — materialize the quality+dedup stage once
      // instead of recomputing tokenstats+hash+window per consumer
      val exact = graft.quality.Checks.dedupKeepFirst(qual, Seq("fp"), Seq("doc_id"))
        .repartition(col("doc_id")) // one reused exchange, three consumers
      val pairs = lshCandidatePairs(signatures(exact.select(col("doc_id"), col("text"))))
      val toksets = hashedTokset(exact.select(col("doc_id"), col("text")))
      val nearDups = verifyPairs(pairs, toksets)
        .filter(col("jac") >= 0.5)
        .select(col("doc_b").as("doc_id"))
        .distinct()
      exact.join(nearDups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("stop_ratio")).as("stop_ratio"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // Document chunking: overlapping token windows (size 50, stride 40) —
    // the pretraining-pipeline split of long documents into model-sized
    // pieces. The repartition barrier materializes the token array once
    // per doc (CollapseProject would otherwise re-tokenize per chunk);
    // chunk rows then explode per partition with no further shuffle.
    "q_doc_chunks" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("toks", expr(tokensSpark("text")))
        .select(col("doc_id"), col("toks"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(1, greatest(size(toks) - 10, 1), 40)")).as("start"))
        .select(col("doc_id"), col("start"),
          expr("size(slice(toks, start, 50))").as("chunk_len"),
          expr(charHashSpark("concat_ws(' ', slice(toks, start, 50))")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("start"))
    }),

    // Context-length packing: concat-then-split docs (in doc_id order)
    // into fixed 1024-token training sequences. The global prefix sum uses
    // the same bucketed two-pass as the KS test — per-bucket totals, a
    // tiny offsets window over ~n/100 aggregated rows, a per-bucket local
    // window — so no single task ever sorts the corpus.
    "q_seq_packing" -> ((s, dir) => {
      GraftExtensions.register(s)
      val d = t(s, dir, "documents")
        .withColumn("ts", expr("graft_tokenstats(text)"))
        .select(col("doc_id"), col("ts.n_tokens").cast("long").as("n_tokens"))
        .withColumn("bucket", (col("doc_id") / 100).cast("long"))
      val btot = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("bt"))
      val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val off = btot
        .withColumn("boff", coalesce(sum(col("bt")).over(wOff), lit(0L)))
        .select(col("bucket"), col("boff"))
      val wLoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      d.join(broadcast(off), Seq("bucket"))
        .withColumn("cum", sum(col("n_tokens")).over(wLoc) + col("boff"))
        .select(col("doc_id"), col("n_tokens"),
          expr("(cum - n_tokens) DIV 1024").as("seq_id"),
          ((col("cum") - col("n_tokens")) % 1024).as("offset_in_seq"))
        .orderBy(col("doc_id"))
    }),

    // BPE vocabulary induction exposed through the driver contract: the
    // learned merge table (rank, a, b, merged) for 64 rounds over the
    // corpus word-frequency table (rounds moved 8 → 64 once training
    // went vocab-local — merge depth no longer costs Spark jobs, only
    // driver arithmetic over the collected word table). FULLY
    // oracle-checked: the DuckDB twin unrolls all 64 training rounds as
    // MATERIALIZED CTE pairs — pair-count + argmax (count desc, then
    // pair in UTF-8 byte order, DuckDB's native VARCHAR comparison =
    // the trainer's pinned tie-break), then a greedy left-to-right
    // rewrite as a list_reduce fold (skipped for words not containing
    // the merged pair as a substring — a necessary condition for
    // adjacency) — and a cumulative-min gate reproduces the
    // minCount = 2 early stop. BpeTrainerSpec additionally proves the
    // merge sequence identical to the single-machine Sennrich reference
    // at both depths.
    "q_bpe_merges" -> ((s, dir) => {
      val wc = graft.operators.BpeTrainer.wordCounts(
        t(s, dir, "documents"), "text")
      val model = graft.operators.BpeTrainer.train(wc, rounds = 64)
      import s.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b, a + b) }
        .toDF("rank", "a", "b", "merged")
        .orderBy(col("rank"))
    }),

    // Exact vocabulary top-k: explode tokens → count → top 20. The exact
    // anchor for the SpaceSaving sketch (graft_heavy_hitters), which at
    // 100 TB replaces this full token shuffle with one capacity-bounded
    // summary per partition — HeavyHittersSpec pins sketch == exact when
    // capacity covers the distinct vocabulary.
    "q_token_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(expr(tokensSpark("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    }),

    // PMI bigram collocations — pointwise mutual information over
    // adjacent token pairs: pmi = ln(c_xy·N_uni² / (N_bi·c_x·c_y)), all
    // counts exact integers, support-filtered, global top-20. The barrier
    // materializes tokens once; everything downstream is count shuffles
    // on (a,b) / token keys. Computed as a SUM OF LOGS (ln c_xy + 2 ln N −
    // …): the product form squares the corpus token count in LONG
    // arithmetic, which silently wraps negative past ~3e9 tokens (Spark
    // non-ANSI) while DuckDB errors — the log form never overflows and
    // both engines fold the same exact-integer logs in the same order.
    "q_pmi_bigrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .withColumn("toks", expr(tokensSpark("text")))
        .select(col("doc_id"), col("toks"))
        .repartition(col("doc_id"))
      val uni = toks.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val nUni = toks.groupBy().agg(sum(expr("size(toks)")).as("n_uni"))
      val bi = toks
        .filter(expr("size(toks) >= 2"))
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> " +
            "struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
          .as("bg"))
        .select(col("bg.a").as("a"), col("bg.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_xy"))
      val nBi = bi.groupBy().agg(sum(col("c_xy")).as("n_bi"))
      bi.filter(col("c_xy") >= 5)
        .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
        .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("a"), col("b"), col("c_xy"),
          r6(log(col("c_xy")) + lit(2.0) * log(col("n_uni")) -
            log(col("n_bi")) - log(col("c_a")) - log(col("c_b"))).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Per-language token-distribution Shannon entropy — the corpus-
    // diversity diagnostic of a training-data pipeline (a collapsed or
    // deduplicate-heavy shard shows up as an entropy drop). Uses the
    // identity H = ln(n) − (Σ c·ln c)/n over exact integer counts; each
    // c·ln c term is rounded to 6 dp and summed as DECIMAL(18,6), so the
    // aggregation is exact and partitioning/engine-invariant (a plain
    // double sum is order-dependent — the q_embed_centroid mechanism).
    // Shuffles on (lang, token) then lang: both high- or low-cardinality
    // keys with mergeable partial aggregates.
    "q_token_entropy" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"), explode(expr(tokensSpark("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      counts.groupBy(col("lang"))
        .agg(
          sum(col("c")).as("n"),
          count(lit(1)).as("n_distinct"),
          sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)"))
            .as("s_clnc"))
        .select(col("lang"), col("n"), col("n_distinct"),
          r6(log(col("n")) - col("s_clnc").cast("double") / col("n"))
            .as("entropy"))
        .orderBy(col("lang"))
    }),

    // TF-IDF top terms per document — the classic text-weighting op:
    // exact integer tf/df counts (partitioning-invariant), idf =
    // ln(N/df), top-3 terms per doc with deterministic ties. Shuffles on
    // (doc, token) then token then doc — all high-cardinality keys.
    "q_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
        explode(expr(tokensSpark("text"))).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs.groupBy().agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(df, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          r6(col("tf") * log(col("n_docs").cast("double") / col("df"))))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("tfidf"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // BM25 retrieval over an INVERTED INDEX (Robertson & Zaragoza 2009;
    // the Lucene +1 idf form, so idf > 0 always) — the sparse-retrieval
    // sibling of the ANN family, and the shape a RAG/data-mining stack
    // runs at corpus scale: query docs (doc_id % 97 = 0, the
    // decontamination family's probe convention) retrieve from the rest
    // of the corpus by joining their DISTINCT terms against the postings
    // table on token hash — only (query, doc) pairs SHARING a term ever
    // materialize, never query × corpus. k1 = 1.2, b = 0.75. Exactness:
    // tf/df/N/Σdl are integers; avgdl enters as the single division
    // dl·N/Σdl; each per-term score is one pinned-association double
    // expression rounded at 6 dp into a DECIMAL per-(query, doc)
    // accumulator, so ranking and ties (score desc, cand_id) are
    // engine-exact. Scale shape: postings shuffle on token hash; the
    // query-term side is workload-sized and BROADCASTS; the per-pair
    // aggregation shuffles on (query, cand) — all linear in shared
    // postings.
    "q_bm25_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score6").desc, col("cand_id"))
      bm25Scores(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("cand_id"), col("n_terms"),
          (col("score6").cast("double") / lit(1e6)).as("bm25"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // HARD-NEGATIVE MINING for retrieval-model training (the DPR recipe,
    // Karpukhin et al. 2020): a hard negative is a top-BM25 candidate
    // that is NOT a gold match for the query — lexically close enough to
    // rank, semantically wrong. Gold here = same (lang, source) as the
    // query doc (the metadata proxy standing in for labeled relevance).
    // Take each query's BM25 top-10, drop golds, keep the top-3
    // survivors with both ranks reported. Scale shape: the top-10 frame
    // is WORKLOAD-sized (10 rows per query) and BROADCASTS against the
    // corpus metadata — the corpus is never re-shuffled for the
    // metadata join.
    "q_hard_negatives" -> ((s, dir) => {
      val w10 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score6").desc, col("cand_id"))
      val top10 = bm25Scores(s, dir)
        .withColumn("rnk_all", row_number().over(w10))
        .filter(col("rnk_all") <= 10)
      val meta = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      val qmeta = meta.select(col("doc_id").as("query_id"),
        col("lang").as("qlang"), col("source").as("qsource"))
      val wNeg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rnk_all"))
      meta.join(broadcast(top10), meta("doc_id") === top10("cand_id"))
        .join(broadcast(qmeta), Seq("query_id"))
        .filter(!(col("lang") === col("qlang") &&
          col("source") === col("qsource")))
        .withColumn("rnk", row_number().over(wNeg))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("cand_id"),
          (col("score6").cast("double") / lit(1e6)).as("bm25"),
          col("rnk_all"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Reciprocal-rank fusion of two retrievers (Cormack et al. 2009) —
    // the hybrid-search composition every retrieval stack ships: BM25
    // (lexical, q_bm25_topk's exact pipeline) and TF-IDF cosine (vector
    // over the SAME inverted index) each rank top-10 per query, then
    // RRF(d) = Σ_r 1/(60 + rank_r(d)) fuses the lists — rank-only
    // fusion, so the two incomparable score scales never mix. All rank
    // inputs are integers and each reciprocal is rounded at 6 dp into a
    // DECIMAL sum, so fusion and final ties are engine-exact. Cosine
    // exactness: per-term weights tf·idf are doubles on identical
    // integer inputs; norm accumulators Σ(w²) and the shared-term dot
    // Σ(w_q·w_d) round each term at 6 dp and sum EXACTLY via the
    // scaled-long form (≡ the oracle's DECIMAL sums — see
    // retrievalFrames' note) before the single division —
    // partitioning-invariant. Scale shape: ONE
    // postings⋈query join (both scorers' inputs — BM25 `term` and
    // cosine `wd` — live on the same enriched postings row, so one
    // broadcast join + one two-aggregate groupBy feeds both rankers;
    // the round-10 form ran the join+agg chain twice and fused the two
    // top-10 lists with a full-outer join). Both candidate sets are
    // IDENTICAL by construction (a candidate scores iff it shares ≥1
    // vocabulary term with the query — the same join), so ranking both
    // scores over the one scored frame and null-masking ranks > 10
    // reproduces the two-list outer-join semantics exactly.
    "q_rrf_fusion" -> ((s, dir) => {
      // ONE retrieval core shared with q_bm25_topk/q_hard_negatives
      // (see retrievalFrames) — already a persisted parquet read-back
      val (enriched, qpost, widf) = retrievalFrames(s, dir)
      // Scaled-long sums throughout (see retrievalFrames' note): each
      // 6-dp-rounded per-row value rides as v·1e6 in a LONG; the +0.5
      // add before the long cast is exact because round's output sits
      // within 1e-4 of the integer and every value here is ≥ 0.
      def scaled6(c: org.apache.spark.sql.Column) =
        (round(c, 6) * lit(1e6) + lit(0.5)).cast("long")
      val dnorm = enriched
        .groupBy(col("cand_id"))
        .agg(sum(scaled6(pow(col("wd"), 2))).as("n2"))
        .select(col("cand_id"),
          sqrt(col("n2").cast("double") / lit(1e6)).as("nd"))
      // query terms outside the corpus vocabulary can never match a
      // posting row, so the inner widf join loses no BM25 candidate
      // either — one query side serves both scorers
      // Both consumers (query norms, the scoring join) BROADCAST this
      // workload-sized frame, and its inputs are FrameCache parquet
      // read-backs — recomputing it is one tiny scan + one broadcast
      // join. The eager Materialize.cut that used to sit here cost two
      // extra jobs and a reliable-checkpoint write+read PER INVOCATION
      // (round-14 profile: the cut, not the scoring, owned the query's
      // GC-sensitivity in full-suite runs) for a frame that is cheaper
      // to rebuild than to restore.
      val qvec = qpost.join(broadcast(widf), Seq("h"))
        .select(col("query_id"), col("h"),
          (col("qtf").cast("double") * col("idf")).as("wq"))
      val qnorm = qvec.groupBy(col("query_id"))
        .agg(sum(scaled6(pow(col("wq"), 2))).as("n2"))
        .select(col("query_id"),
          sqrt(col("n2").cast("double") / lit(1e6)).as("nq"))
      val wBm = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score6").desc, col("cand_id"))
      val wCos = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
      val scored = enriched
        .join(broadcast(qvec), Seq("h"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(sum(col("term6")).as("score6"),
          sum(scaled6(col("wq") * col("wd"))).as("dot6"))
        .join(dnorm, Seq("cand_id"))
        .join(broadcast(qnorm), Seq("query_id"))
        .withColumn("cos", r6((col("dot6").cast("double") / lit(1e6)) /
          (col("nq") * col("nd"))))
        .withColumn("rnk1", row_number().over(wBm))
        .withColumn("rnk2", row_number().over(wCos))
        .filter(col("rnk1") <= 10 || col("rnk2") <= 10)
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("cand_id"))
      scored
        .withColumn("rnk1", when(col("rnk1") <= 10, col("rnk1")))
        .withColumn("rnk2", when(col("rnk2") <= 10, col("rnk2")))
        .withColumn("rrf",
          (coalesce(round(lit(1.0) / (lit(60) + col("rnk1")), 6), lit(0.0))
            .cast("decimal(18,6)") +
           coalesce(round(lit(1.0) / (lit(60) + col("rnk2")), 6), lit(0.0))
            .cast("decimal(18,6)")))
        .withColumn("rnk", row_number().over(wF))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("cand_id"), col("rnk1"), col("rnk2"),
          col("rrf").cast("double").as("rrf"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // SimHash (16-bit) + blocking bucket (native single-pass kernel; the
    // HOF twin `simhash16Spark` remains the documented portable form).
    "q_simhash" -> ((s, dir) => {
      GraftExtensions.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), expr("graft_simhash16(text)").as("sh16"))
        .withColumn("sh_bucket", expr("shiftright(sh16, 8)"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs — 60-bit signatures (graft_simhash60),
    // Manku block-permutation tables (see mankuBandCols): 6 blocks of 10
    // bits, C(6,3) = 20 tables each keyed on a 3-block 30-bit subset;
    // candidates agree on ≥1 FULL table key, then hamming ≤ 3 over the
    // whole signature verifies (XOR + popcount, both engine-portable).
    // EXACT for this threshold: ≤3 differing bits dirty ≤3 blocks, so
    // some 3-block table stays clean — recall 1.0 vs a full n² scan,
    // pinned by SimHashBandingSpec. Bucket space is 2^30 per table (the
    // round-3 single-block 4×15 form saturated at n ≈ 16·2¹⁵ ≈ 0.5M docs;
    // this moves saturation to ~17B). Near-dup docs are injected (1-token
    // tail on every 40th doc) since the synthetic corpus has none at this
    // strictness.
    "q_simhash_pairs" -> ((s, dir) => {
      GraftExtensions.register(s)
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      val sig = d.unionByName(dups)
        .select(col("doc_id"), expr("graft_simhash60(text)").as("sh"))
      val bands = sig
        .select(col("doc_id"), col("sh"),
          explode(array(mankuBandCols(col("sh")): _*)).as("bs"))
        .select(col("doc_id"), col("sh"),
          col("bs.band").as("band"), col("bs.bkey").as("bkey"))
      bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.sh").as("sa"), col("y.sh").as("sb"))
        .distinct()
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // N-gram (token-set) Jaccard top-k for a probe sample, blocked by
    // language — the EXACT baseline of the jaccard-similarity family:
    // language has a FIXED number of blocks, so probe×block pair work
    // grows quadratically with data (scaleprobe measures ~5.6× wall at
    // 4×). Declared quadratic-by-intent, exempt like q_cosine_topk; the
    // scale path is q_jaccard_topk_lsh below, which generates candidates
    // through the MinHash band join instead. Token sets are SORTED
    // DISTINCT HASH arrays: the O(|a|+|b|) merge kernel
    // (graft_jaccard_sorted) replaces per-pair set builds, the sort is
    // paid once per row, and the small probe side broadcasts so
    // candidates never shuffle for the join.
    "q_ngram_jaccard" -> ((s, dir) => {
      GraftExtensions.register(s)
      val toks = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        expr(s"array_sort(array_distinct(${tokenHashesSpark("text")}))").as("tset"))
      // FIXED probe universe (doc_id % 20 = 0 AND doc_id < 5000 — the
      // full id space at the largest test SF, so no output changes at
      // any SF): a probe set growing with the corpus made the decade
      // rehearsal quadratic by construction (25x at 10x — the
      // retrievalFrames / q_cosine_topk precedent); with constant
      // probes the lang-blocked scoring is linear in the corpus.
      val probes = toks.filter(col("doc_id") % 20 === 0 && col("doc_id") < 5000)
        .select(col("doc_id").as("probe_id"), col("lang"), col("tset").as("ta"))
      val cands = toks
        .select(col("doc_id").as("cand_id"), col("lang"), col("tset").as("tb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("jac").desc, col("cand_id"))
      cands.join(broadcast(probes), Seq("lang"))
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          r6(expr("graft_jaccard_sorted(ta, tb)")).as("jac"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("probe_id"), col("cand_id"), col("jac"), col("rnk"))
        .orderBy(col("probe_id"), col("rnk"))
    }),

    // Near-dup CONNECTED COMPONENTS — the transitive-closure completion
    // of the dedup family: LSH gives verified pairs, but "A~B, B~C"
    // must collapse to ONE canonical doc per cluster, which needs
    // components, not pairs (min-label propagation + pointer jumping,
    // O(log diameter) rounds — see operators.ConnectedComponents).
    // Labels come from the PERSISTED DedupIndex: the first consumer in
    // the JVM builds and writes the parquet index, every consumer
    // (this one included) scans the read-back parquet — the 100 TB
    // shape, where band/label tables are a maintained corpus asset,
    // not a per-query recompute. The DuckDB oracle still reproduces
    // the full fixpoint from raw text with a recursive CTE, so the
    // persisted-index path is oracle-checked end to end.
    "q_dedup_components" -> ((s, dir) => {
      GraftExtensions.register(s)
      val ix = DedupIndex.ensure(s, s"$dir#full",
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      ix.labels
        .select(col("doc_id"), col("component").as("component_id"))
        .orderBy(col("doc_id"))
    }),

    // Fresh-build index statistics — the suite's TIMED record of the
    // full signatures→bands→pairs→components chain (the other cluster
    // queries consume the per-JVM persisted index, so their timings
    // measure the production read path; this one deliberately bypasses
    // the cache so index-build cost stays visible in BENCH/BASELINE and
    // the scaling probe can bound it). Output: corpus/cluster shape
    // scalars, all recomputed independently by the oracle's recursive
    // CTE.
    "q_dedup_index_stats" -> ((s, dir) => {
      GraftExtensions.register(s)
      val ix = DedupIndex.buildFrames(s,
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val sizes = ix.labels.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      ix.toksets.agg(count(lit(1)).as("n_docs"))
        .crossJoin(ix.labels.agg(count(lit(1)).as("n_clustered_docs")))
        .crossJoin(sizes.agg(count(lit(1)).as("n_clusters"),
          max(col("sz")).as("max_cluster")))
    }),

    // Leakage-safe train/val/test split — the assignment unit is the
    // NEAR-DUP CLUSTER, not the document: splitting by doc id lets a
    // training document's near-duplicate land in the eval split and leak
    // the answer (the standard contamination failure the dedup family
    // exists to prevent). Clusters come from the same LSH-pair connected
    // components as q_dedup_components (singletons are their own
    // cluster); each cluster hashes to an 80/10/10 bucket via the
    // portable integer hash, so membership is deterministic and engine-
    // reproducible. Output: per-split doc/cluster counts plus a
    // cross-checked leakage count — the oracle RECOMPUTES clusters-
    // straddling-splits independently, pinning it at zero. At 100 TB
    // this is the component labels (log-round propagation) + one
    // broadcast-sized aggregate: no new shuffle beyond the dedup family
    // itself.
    "q_leakage_split" -> ((s, dir) => {
      GraftExtensions.register(s)
      val docs = t(s, dir, "documents")
      val ix = DedupIndex.ensure(s, s"$dir#full",
        docs.select(col("doc_id"), col("text")))
      val assign = DedupIndex.assign(docs.select(col("doc_id")), ix.labels)
        .withColumn("bucket",
          expr(s"${idHash("cluster_id")} % 10"))
        .withColumn("split",
          when(col("bucket") < 8, lit("train"))
            .when(col("bucket") === 8, lit("val"))
            .otherwise(lit("test")))
      // independent leakage count: clusters whose members straddle splits
      // (zero by construction — the oracle recomputes it from scratch)
      val leak = assign.groupBy(col("cluster_id"))
        .agg(countDistinct(col("split")).as("nsplits"))
        .agg(sum((col("nsplits") > 1).cast("long")).as("n_leaky_clusters"))
      assign.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .join(broadcast(leak))
        .orderBy(col("split"))
    }),

    // Keep-BEST-per-cluster canonical selection — the other real dedup
    // policy besides keep-first: inside each near-dup cluster keep the
    // highest-quality member (longest document — the "most complete
    // version of the page" rule; ties by doc_id). Clusters are the same
    // LSH-pair connected components as q_dedup_components, singletons
    // their own cluster; selection is one rank window over the
    // cluster-keyed frame — nothing beyond the dedup family's own cost.
    "q_dedup_keep_best" -> ((s, dir) => {
      GraftExtensions.register(s)
      val docs = t(s, dir, "documents")
      val ix = DedupIndex.ensure(s, s"$dir#full",
        docs.select(col("doc_id"), col("text")))
      val assign = docs.select(col("doc_id"), col("n_chars"))
        .join(ix.labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      assign
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
          max(when(col("rn") === 1, col("n_chars"))).as("kept_n_chars"))
        .orderBy(col("cluster_id"))
    }),

    // INCREMENTAL ingest dedup — the production shape every batch
    // pipeline needs: dedup a NEW batch against the EXISTING corpus
    // without ever pairing corpus×corpus (the corpus's own dups were
    // handled when ITS batches landed). Batch = the doc_id % 10 slice
    // plus perturbed copies of corpus docs (id+500000, 1-token tail) so
    // known near-dups exist; the batch's band table BROADCASTS against
    // the streaming corpus bands (batch << corpus in production — the
    // candidate join is map-side, corpus never shuffles), candidates
    // verify by exact Jaccard, and each batch doc emits its admit/reject
    // decision with the best corpus match. Per-batch cost: one corpus
    // scan + bounded band-bucket candidates — at 100 TB the corpus
    // bands would be a persisted index, making the scan incremental too.
    "q_dedup_incremental" -> ((s, dir) => {
      GraftExtensions.register(s)
      val all = t(s, dir, "documents")
      // the corpus participates ONLY through its persisted DedupIndex
      // (bands + toksets parquet, built once per JVM, shared with
      // q_dedup_index_update) — corpus text is never rescanned here.
      // Injection offset 500000 requires doc_id < 500000 at every SF
      // (TestDataContractSpec pins it; TESTDATA.md max is ~50k at sf0.1).
      val ix = DedupIndex.ensure(s, s"$dir#corpus90",
        all.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")))
      val injected = all.filter(col("doc_id") % 40 === 1)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      val batch = all.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).unionByName(injected)
      val best = DedupIndex.corpusMatches(s, ix, batch)
      batch.select(col("doc_id"))
        .join(best.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("match_id").isNotNull.as("is_dup"),
          col("match_id"), col("match_jac"))
        .orderBy(col("doc_id"))
    }),

    // INDEX UPDATE ≡ FULL REBUILD — the strongest possible check on the
    // incremental path: Spark computes cluster labels by EXTENDING the
    // persisted corpus index with the batch (DedupIndex.update — batch
    // bands broadcast, a driver union-find over {batch ids} ∪ {touched
    // corpus cluster labels}, broadcast label remap for cross-cluster
    // merges), while the DuckDB oracle recomputes the ENTIRE corpus∪batch
    // clustering from raw text with a recursive CTE. A hash match means
    // the incremental repair is exactly equivalent to a full rebuild —
    // the invariant a 100 TB nightly-ingest index lives or dies by.
    "q_dedup_index_update" -> ((s, dir) => {
      GraftExtensions.register(s)
      val all = t(s, dir, "documents")
      val ix = DedupIndex.ensure(s, s"$dir#corpus90",
        all.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")))
      val injected = all.filter(col("doc_id") % 40 === 1)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      val batch = all.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).unionByName(injected)
      DedupIndex.update(s, ix, batch)
        .assignment
        .orderBy(col("doc_id"))
    }),

    // The scale path of the jaccard top-k family: candidates come from
    // the MinHash BAND JOIN (probe-side bands broadcast against corpus
    // bands — bucket keyspace PM² per band, occupancy stays ~constant as
    // data grows) instead of a fixed language block; exact sorted-merge
    // Jaccard then ranks candidates per probe. ANN semantics: a probe
    // with no band-mate (nothing similar in the corpus) returns fewer
    // than 3 rows — the price of never touching the n² pair space.
    // Near-dup docs injected (1-token tail on every 40th doc, the
    // q_simhash_pairs corpus) since the synthetic corpus has few.
    "q_jaccard_topk_lsh" -> ((s, dir) => {
      GraftExtensions.register(s)
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d0.unionByName(
        d0.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
      val sig = signatures(docs)
      val bandStructs = (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          (col(s"mh${2 * b}") * lit(PM) + col(s"mh${2 * b + 1}")).as("bkey"))
      }
      val bands = sig
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
      val pBands = bands.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("probe_id"), col("band"), col("bkey"))
      val cand = bands.as("c")
        .join(broadcast(pBands).as("p"),
          col("p.band") === col("c.band") && col("p.bkey") === col("c.bkey") &&
            col("p.probe_id") =!= col("c.doc_id"))
        .select(col("p.probe_id").as("probe_id"), col("c.doc_id").as("cand_id"))
        .distinct()
      val toks = hashedTokset(docs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("jac").desc, col("cand_id"))
      cand
        .join(toks.select(col("doc_id").as("probe_id"), col("tset").as("ta")), "probe_id")
        .join(toks.select(col("doc_id").as("cand_id"), col("tset").as("tb")), "cand_id")
        .select(col("probe_id"), col("cand_id"),
          r6(expr("graft_jaccard_sorted(ta, tb)")).as("jac"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("probe_id"), col("cand_id"), col("jac"), col("rnk"))
        .orderBy(col("probe_id"), col("rnk"))
    }),

    // EXACT threshold set-similarity self-join via PPJoin-style PREFIX
    // FILTERING (Chaudhuri et al. ICDE'06 primitive; Xiao et al. WWW'08)
    // — the guaranteed-recall exact complement of the MinHash-LSH path:
    // LSH candidates are probabilistic (a pair can miss every band);
    // prefix filtering is exact by pigeonhole. Order each doc's shingle
    // set by GLOBAL document frequency (rarest first, ties by value);
    // for jaccard ≥ τ the smallest common shingle in that order provably
    // sits within BOTH docs' first n − ⌈τ·n⌉ + 1 shingles, so an
    // equi-join on prefix shingles alone yields a candidate superset —
    // no n² pair space, no recall loss. Sets are 5-TOKEN GRAM
    // fingerprints, not raw tokens: the synthetic corpus has a ~31-token
    // vocabulary, so token sets don't discriminate at all, and the
    // 3-shingle space (31³ ≈ 30k) SATURATES as the corpus grows — the
    // 16× uniform probe measured 8.4× wall on the 3-shingle form because
    // pigeonhole pushes every shingle's df up linearly and candidates
    // quadratically. k = 5 puts the gram space (31⁵ ≈ 28.6M) far above
    // any probe scale (df ≤ 4 at sf0.1; 1.45× wall at 16×): prefix
    // filtering's contract is exactly "fingerprint space ≫ corpus", the
    // same dial the MinHash bands tune. Prefixes hold the RARE end of
    // the frequency table, so the candidate join's key distribution is
    // anti-skewed by construction, and the τ·max ≤ min length filter
    // prunes before the sorted-merge kernel verifies exactly. The ORACLE
    // brute-forces ALL pairs, so zero-false-negative recall is
    // hash-checked, not assumed. Near-dup pairs planted as in
    // q_jaccard_topk_lsh.
    "q_ppjoin" -> ((s, dir) => {
      GraftExtensions.register(s)
      val tau = 0.6
      // plant offset 1e12, not the family's usual 2e5: the keep-first
      // aggregate below keys on doc_id, so a planted id COLLIDING with a
      // real id would make first() pick one of two texts
      // nondeterministically while the oracle's UNION ALL keeps both —
      // the offset must clear every conceivable corpus/replica id space
      // r15 F3 sweep note: the formatted plan shows 10-vs-2 isnotnull
      // stamp drift across the 12 documents scan copies, but saturating
      // doc_id isNotNull on d0 left the executed plan count-identical
      // (3 ReusedExchange / 20 Exchange / 16 scans both ways) — the
      // copies differ by consumer-specific pruning, not constraints, so
      // the probe was reverted (the q_triangles lesson: no filter
      // without executed-plan evidence).
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d0.unionByName(
        d0.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
      // Two deliberate plan barriers around the shingle step. The
      // repartition stops CollapseProject from inlining the token-hash
      // transform into every shingle element_at (the q_repetition_filter
      // fix) and is the ReusedExchange point for the four consumers of
      // tset (df table, prefix self-join, both verify joins). The
      // doc_id AGGREGATE (exact: doc_id is unique, so first() is the
      // row) stops PREDICATE pushdown: explode(tset) makes Catalyst
      // infer a size(tset) > 0 filter, and pushdown substitutes a
      // deterministic projection chain all the way into the parquet
      // scan's filter — re-deriving every shingle's element_at from raw
      // text, O(shingles·tokens) interpreted HOF work per row (measured
      // 44s vs 1.5s at sf0.1). A non-grouping aggregate output is the
      // one thing PushDownPredicates never crosses, and the aggregate
      // rides the existing doc_id partitioning, so it costs nothing.
      val th = docs
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), col("th"))
        .repartition(col("doc_id"))
      val toks = th
        .select(col("doc_id"),
          expr(s"array_sort(array_distinct(${gramHashesSpark("th", 5)}))").as("tset0"))
        .groupBy(col("doc_id")).agg(first(col("tset0")).as("tset"))
      val dfreq = toks.select(explode(col("tset")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
      val prefix = toks
        .select(col("doc_id"), size(col("tset")).as("n"),
          explode(col("tset")).as("tok"))
        .join(dfreq, "tok")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("n") - ceil(col("n") * lit(tau)).cast("int") + 1)
        // barrier on the join key: both candidate sides reuse ONE
        // exchange, already partitioned for the tok equi-join
        .repartition(col("tok"))
      val cands = prefix
        .select(col("tok"), col("doc_id").as("doc_a"), col("n").as("na"))
        .join(prefix.select(col("tok"), col("doc_id").as("doc_b"),
          col("n").as("nb")), "tok")
        .filter(col("doc_a") < col("doc_b") &&
          greatest(col("na"), col("nb")).cast("double") * lit(tau) <=
            least(col("na"), col("nb")).cast("double"))
        .select(col("doc_a"), col("doc_b")).distinct()
      cands
        .join(toks.select(col("doc_id").as("doc_a"), col("tset").as("ta")), "doc_a")
        .join(toks.select(col("doc_id").as("doc_b"), col("tset").as("tb")), "doc_b")
        .withColumn("jac", expr("graft_jaccard_sorted(ta, tb)"))
        .filter(col("jac") >= tau)
        .select(col("doc_a"), col("doc_b"), r6(col("jac")).as("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Gopher/MassiveText-style REPETITION filter — the published quality
    // rules that catch degenerate (looping) text: fraction of the doc
    // consumed by its most frequent token, and the duplicate-bigram
    // fraction. Both are per-doc computations: the bigram side is pure
    // HOF arithmetic (no shuffle at all); the top-token side is an
    // explode + two hash aggs keyed by doc_id — fully distributed, and
    // the flag compares ROUNDED fractions so the boundary can't flip
    // between engines.
    "q_repetition_filter" -> ((s, dir) => {
      // r15 spread A/B: wash (1.01x interleaved) — left unspread to keep
      // the plan minimal
      val th = t(s, dir, "documents")
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), col("th"))
        .repartition(col("doc_id")) // barrier: th computed once, not per use
      val bg = th
        .withColumn("bg", expr(gramHashesSpark("th", 2)))
        .select(col("doc_id"), size(col("th")).cast("long").as("n_tokens"),
          size(col("bg")).cast("long").as("nb"),
          size(array_distinct(col("bg"))).cast("long").as("nd"))
      val top = th
        .select(col("doc_id"), explode(col("th")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(col("cnt")).as("top1"), sum(col("cnt")).as("ntok"))
      bg.join(top, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("top1").cast("double") / col("ntok")).as("top1_frac"),
          r6(when(col("nb") > 0,
            lit(1.0) - col("nd").cast("double") / col("nb"))
            .otherwise(lit(0.0))).as("dup_bigram_frac"))
        .withColumn("flagged",
          col("top1_frac") > 0.12 || col("dup_bigram_frac") > 0.05)
        .orderBy(col("doc_id"))
    }),

    // Corpus report card — the per-(source, lang) summary a pipeline
    // owner reads before training: doc counts, token volume, short-doc
    // and exact-duplicate rates. One scan, one hash agg; countDistinct
    // on the 8-byte fingerprint shuffles hashes, never documents.
    "q_corpus_report" -> ((s, dir) => {
      GraftExtensions.register(s)
      t(s, dir, "documents")
        .withColumn("nt", expr("graft_tokenstats(text).n_tokens"))
        .withColumn("fp", expr(charHashSpark("text")))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          r6(sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"),
          sum((col("n_chars") < 200).cast("long")).as("n_short"),
          countDistinct(col("fp")).as("n_unique_fp"))
        .orderBy(col("source"), col("lang"))
    }),

    // Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    // Goodman 1998 §2.7) — the published standard behind KenLM-style
    // perplexity filtering, upgrading q_lm_score's MLE conditionals to
    // proper smoothing: P(w|v) = max(c(vw)−D,0)/c(v·) +
    // D·N1+(v,·)/c(v·) · N1+(·,w)/N1+(·,·) with the fixed discount
    // D = 0.75. Training is FOUR shuffled aggregations off one bigram
    // count table (forward totals + distinct-successor counts,
    // distinct-predecessor counts, the scalar type total) — all
    // vocab²-bounded, none broadcast except the one-row total; the
    // smoothed log-prob assembles on that count table and scoring joins
    // it back to the per-doc bigram counts on (h1,h2), so the corpus
    // stream crosses exactly one exchange. Every count is an exact
    // integer; the smoothed probability is ONE double expression with
    // pinned association, rounded at 6 dp before the exact-DECIMAL
    // per-doc sum — so the DuckDB oracle replays the whole trained
    // model bit-for-bit. c(vw) ≥ 1 for every scored bigram (the model
    // trains on the same corpus), so the max(·,0) clamp is vacuous here
    // and the log argument is always positive.
    "q_lm_kneser" -> ((s, dir) => {
      // r15 spread A/B: REJECTED — 1.37x worse interleaved (1.55→2.12 s);
      // both consumers already share the reused (h1,h2) exchange, so the
      // tokenize runs once and a pre-exchange of raw text is pure cost
      val pairs = t(s, dir, "documents")
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(th) >= 2 THEN transform(sequence(1, size(th) - 1), " +
            "i -> struct(element_at(th, i) AS h1, element_at(th, i + 1) AS h2)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<h1: BIGINT, h2: BIGINT>>) END"))
          .as("p"))
        .select(col("doc_id"), col("p.h1").as("h1"), col("p.h2").as("h2"))
        // the bigram stream is consumed twice (model count + scoring
        // join); recomputing the 32-way-split tokenize per consumer is
        // cheaper than any materialization of the stream itself (r14
        // measured: a per-doc count-table rewrite paid two 12M-group
        // no-reduction hash aggs, +70% at 10x), and each consumer's own
        // exchange is its recovery path
        .repartition(col("h1"), col("h2"))
      // big's four consumers recompute the count agg over the reused
      // pairs exchange — shuffle recompute is the recovery path. r14
      // A/B at 10x: a reliable cut of big paid ~1.2s of checkpoint
      // write/read over the recompute (8.6s vs 9.8s min-of-3)
      val big = pairs.groupBy(col("h1"), col("h2"))
        .agg(count(lit(1)).as("cxy"))
      val ctx = big.groupBy(col("h1"))
        .agg(sum(col("cxy")).as("cx"), count(lit(1)).as("n1f"))
      val bwd = big.groupBy(col("h2")).agg(count(lit(1)).as("n1b"))
      val tot = big.agg(count(lit(1)).as("tt"))
      // the smoothed log-prob is assembled on the VOCAB²-bounded count
      // table — the r13 shape joined ctx (h1) and bwd (h2) into the
      // corpus-sized scoring stream, paying two more corpus exchanges
      // at 10x (the r13 decade's 1.58x premium lived exactly there)
      val lpTable = big
        .join(ctx, Seq("h1"))
        .join(bwd, Seq("h2"))
        .crossJoin(broadcast(tot))
        .withColumn("lp", round(log(
          (col("cxy").cast("double") - 0.75) / col("cx").cast("double") +
            (lit(0.75) * col("n1f").cast("double") / col("cx").cast("double")) *
              (col("n1b").cast("double") / col("tt").cast("double"))), 6))
        .select(col("h1"), col("h2"), col("lp"))
      pairs
        .join(lpTable, Seq("h1", "h2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp").cast("decimal(18,6)")).as("sdec"))
        // total log-prob stays EXACT decimal to the end (kn_sum is its
        // deterministic double image; an avg = sum/n double division hit
        // a half-ulp rounding tie at sf0.1) and the perplexity gate
        // compares decimals/integers only: keep ⇔ mean log-prob > −7,
        // evaluated as sum > −7·n with zero float ops
        .select(col("doc_id"), col("n_bigrams"),
          col("sdec").cast("double").as("kn_sum"),
          (col("sdec") > lit(-7L) * col("n_bigrams")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality scoring, self-contained: train bigram
    // conditionals on the corpus itself (cxy/cx), score each doc by the
    // mean log-probability of its bigrams. Low scores = improbable token
    // sequences = the noisy tail a quality filter drops. The count
    // tables are plain shuffled aggregations (vocab-sized, NOT
    // broadcast — at 100 TB the bigram table is huge and the join
    // shuffles on bigram hash); the per-doc sum is exact DECIMAL over
    // per-term rounded logs so partition order can't move the hash.
    "q_lm_score" -> ((s, dir) => {
      // r15 spread A/B: REJECTED — 1.31x worse interleaved (see
      // q_lm_kneser; same shared-exchange shape)
      val pairs = t(s, dir, "documents")
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(th) >= 2 THEN transform(sequence(1, size(th) - 1), " +
            s"i -> struct(element_at(th, i) AS h1, " +
            s"(element_at(th, i) * 31 + element_at(th, i + 1)) % $P AS bg)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<h1: BIGINT, bg: BIGINT>>) END"))
          .as("p"))
        .select(col("doc_id"), col("p.h1").as("h1"), col("p.bg").as("bg"))
        // stream consumed twice (count table + scoring); recompute per
        // consumer, same trade as q_lm_kneser. The conditional (cxy/cx)
        // assembles on the VOCAB-bounded count table: the r13 shape
        // joined uni(h1) into the already-scored corpus stream, paying a
        // second corpus-sized exchange on h1
        .repartition(col("h1"), col("bg"))
      val big = pairs.groupBy(col("h1"), col("bg")).agg(count(lit(1)).as("cxy"))
      val uni = big.groupBy(col("h1")).agg(sum(col("cxy")).as("cx"))
      val lp = big
        .join(uni, Seq("h1"))
        .select(col("h1"), col("bg"),
          round(log(col("cxy").cast("double") / col("cx")), 6).as("lp"))
      pairs
        .join(lp, Seq("h1", "bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp").cast("decimal(18,6)")).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          r6(col("s").cast("double") / col("n_bigrams")).as("lm_avg"))
        .orderBy(col("doc_id"))
    }),

    // CCNet perplexity-percentile selection (Wenzek et al. 2020) — the
    // published head/middle/tail split the CCNet pipeline actually
    // trains on: per LANGUAGE, docs rank by LM score (mean bigram
    // log-prob — q_lm_score's exact chain; higher = more probable =
    // cleaner) and split into three equal percentile buckets; training
    // keeps head(+middle), the tail is the noisy web residue.
    // Scale shape: the count tables shuffle exactly as q_lm_score — and
    // the per-language rank deliberately does NOT use a per-lang window
    // (language cardinality is tiny, so `ntile OVER (PARTITION BY
    // lang)` funnels ~n/|langs| rows through single tasks — at 100 TB
    // each language IS a 20 TB partition). Instead the rank uses the
    // GlobalRowNumber decomposition generalized to a partition key:
    // equi-depth buckets on the (negated) score are monotone in rank
    // within every language, so per-(lang, bucket) local windows plus a
    // per-lang prefix sum over the (lang, bucket) COUNT table (the only
    // per-lang window, |langs|·64 rows) reproduce the exact rank, and
    // ntile derives from (rank, per-lang count) in closed form —
    // identical to the oracle's plain ntile because the order
    // (rounded score desc, doc_id) is total.
    "q_ppl_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // r15 spread A/B: REJECTED — 1.44x worse interleaved (see
      // q_lm_kneser; same shared-exchange shape)
      val pairs = t(s, dir, "documents")
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), col("lang"), explode(expr(
          "CASE WHEN size(th) >= 2 THEN transform(sequence(1, size(th) - 1), " +
            s"i -> struct(element_at(th, i) AS h1, " +
            s"(element_at(th, i) * 31 + element_at(th, i + 1)) % $P AS bg)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<h1: BIGINT, bg: BIGINT>>) END"))
          .as("p"))
        .select(col("doc_id"), col("lang"), col("p.h1").as("h1"), col("p.bg").as("bg"))
        // same reused-exchange form as q_lm_score (see there)
        .repartition(col("h1"), col("bg"))
      val uni = pairs.groupBy(col("h1")).agg(count(lit(1)).as("cx"))
      val big = pairs.groupBy(col("h1"), col("bg")).agg(count(lit(1)).as("cxy"))
      val scored = pairs
        .join(big, Seq("h1", "bg"))
        .join(uni, Seq("h1"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(round(log(col("cxy").cast("double") / col("cx")), 6)
            .cast("decimal(18,6)")).as("s"))
        .select(col("doc_id"), col("lang"),
          r6(col("s").cast("double") / col("n_bigrams")).as("lm_avg"))
        // rank DESC by score = rank ASC by its negation
        .withColumn("__neg", -col("lm_avg"))
      // checkpointed: the bucket table feeds counts/offsets AND the
      // final rank join — one materialization also pins the sampled
      // boundary array so both consumers see identical buckets
      val bucketed = graft.operators.RangeBuckets
        .withEquiDepthBucket(scored, "__neg", "__b", 64)
        .cut()
      val counts = bucketed.groupBy(col("lang"), col("__b"))
        .agg(count(lit(1)).as("__c"))
      val wOff = Window.partitionBy(col("lang")).orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = counts
        .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
        .select(col("lang"), col("__b"), col("__off"))
      val ntot = counts.groupBy(col("lang")).agg(sum(col("__c")).as("__n"))
      val wLoc = Window.partitionBy(col("lang"), col("__b"))
        .orderBy(col("__neg"), col("doc_id"))
      bucketed
        .join(broadcast(offsets), Seq("lang", "__b"))
        .join(broadcast(ntot), Seq("lang"))
        .withColumn("rn", col("__off") + row_number().over(wLoc))
        // SQL-standard ntile(3) from (rank, n): the first n mod 3 tiles
        // carry ceil(n/3) rows, the rest floor(n/3)
        .withColumn("bucket", expr(
          "CAST(CASE WHEN rn <= ((__n div 3) + 1) * (__n % 3) " +
            "THEN (rn - 1) div ((__n div 3) + 1) + 1 " +
            "ELSE (__n % 3) + (rn - ((__n div 3) + 1) * (__n % 3) - 1) " +
            "div greatest(__n div 3, 1) + 1 END AS INT)"))
        .withColumn("tier",
          when(col("bucket") === 1, lit("head"))
            .when(col("bucket") === 2, lit("middle"))
            .otherwise(lit("tail")))
        .select(col("doc_id"), col("lang"), col("lm_avg"), col("bucket"),
          col("tier"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark DECONTAMINATION — the published n-gram-overlap rule for
    // keeping eval data out of training corpora: a training doc is
    // contaminated if any of its 8-token grams appears in the eval set's
    // gram table. The eval side (doc_id % 97 = 0 here; a real benchmark
    // suite in production) is tiny, so its distinct grams BROADCAST and
    // the training side streams through one scan — a semi-join on gram
    // hashes, never any pairwise doc comparison.
    "q_decontaminate" -> ((s, dir) => {
      // Spread ahead of the tokenize front (r15 F1 fix)
      val grams = graft.operators.Spread
        .byKey(t(s, dir, "documents"), col("doc_id"))
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), col("th"))
        .repartition(col("doc_id"))
        .withColumn("g", explode(expr(gramHashesSpark("th", 8))))
        .select(col("doc_id"), col("g"))
      val evalGrams = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g").as("eg")).distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalGrams), col("g") === col("eg"), "left")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eg")).as("n_hits"))
        .select(col("doc_id"), col("n_hits"),
          (col("n_hits") > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  private val stopList = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  private def sigCte(src: String = "documents"): String = {
    val mh = (0 until nMinhash).map(i => s"${minhashDuck("sh", i)} AS mh$i").mkString(",\n    ")
    s"""th AS (
       |  SELECT doc_id, text, ${tokenHashesDuck("text")} AS th FROM $src
       |), sig AS (
       |  SELECT doc_id, text, ${shingleHashesDuck("th")} AS sh FROM th
       |), mh AS (
       |  SELECT doc_id, text,
       |    $mh
       |  FROM sig
       |)""".stripMargin
  }

  /** DuckDB fragment: LSH candidate pairs + verified jaccard from the
    * `mh` CTE produced by [[sigCte]] and a token-set source `toksrc`. */
  private def lshPairsCte(toksrc: String): String = {
    val bandSelects = (0 until nBands).map { b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} * $PM + mh${2 * b + 1} AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""bands AS (
       |  $bandSelects
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), toksets AS (
       |  SELECT doc_id, list_distinct(${tokenHashesDuck("text")}) AS tset FROM $toksrc
       |), verified AS (
       |  SELECT doc_a, doc_b,
       |    ROUND(${jaccardDuck("ta.tset", "tb.tset")}, 6) AS jac
       |  FROM pairs
       |  JOIN toksets ta ON ta.doc_id = doc_a
       |  JOIN toksets tb ON tb.doc_id = doc_b
       |)""".stripMargin
  }

  /** DuckDB replay of BpeTrainer.train(rounds, minCount = 2) over the
    * documents word-frequency table — the Lloyd-replay treatment applied
    * to tokenizer training. Each round is a MATERIALIZED CTE pair
    * (materialization is load-bearing: st{r} is referenced twice, and an
    * inlining planner would re-expand the whole prefix chain per round):
    *  - b{r}: weighted adjacent-pair counts → argmax, ORDER BY c DESC
    *    then (a, b) — DuckDB compares VARCHAR by raw UTF-8 bytes, which
    *    IS the trainer's pinned tie-break order;
    *  - st{r+1}: greedy left-to-right non-overlapping rewrite as a
    *    list_reduce fold over singleton-wrapped symbols (merge-or-append
    *    per step reproduces mergePair exactly — BpeTrainerSpec's fold
    *    equivalence), skipped wholesale for words where the merged pair
    *    is not even a substring (necessary for adjacency; concatenated
    *    symbols always spell the original word).
    * The final cumulative-min-over-rank gate keeps exactly the rounds
    * before the first best-count < minCount, reproducing the early stop
    * (later CTE rounds may then merge sub-threshold garbage, but every
    * such round is excluded by the gate). string_split(word, '') splits
    * VARCHAR into CODEPOINTS, matching BpeTrainer.symbols. */
  private def bpeMergesDuck(rounds: Int, minCount: Long): String = {
    val base =
      """st0 AS MATERIALIZED (
        |  SELECT word, CAST(cnt AS BIGINT) AS cnt,
        |    string_split(word, '') AS syms FROM (
        |    SELECT word, COUNT(*) AS cnt FROM (
        |      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |    WHERE len(word) > 0 GROUP BY word)
        |)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT a, b, c FROM (
         |    SELECT s.syms[i] AS a, s.syms[i + 1] AS b, SUM(s.cnt) AS c
         |    FROM st$r s, unnest(generate_series(1, len(s.syms) - 1)) AS t(i)
         |    GROUP BY 1, 2)
         |  ORDER BY c DESC, a, b LIMIT 1
         |),
         |st${r + 1} AS MATERIALIZED (
         |  SELECT s.word, s.cnt,
         |    CASE WHEN contains(s.word, b.a || b.b) THEN list_reduce(
         |      list_prepend(CAST([] AS VARCHAR[]),
         |        list_transform(s.syms, z -> [z])),
         |      (acc, x) -> CASE WHEN len(acc) > 0
         |          AND acc[len(acc)] = b.a AND x[1] = b.b
         |        THEN acc[1:len(acc) - 1] || [b.a || b.b]
         |        ELSE acc || x END)
         |    ELSE s.syms END AS syms
         |  FROM st$r s CROSS JOIN b$r b
         |)""".stripMargin
    }.mkString(",\n")
    val allBest = (0 until rounds)
      .map(r => s"SELECT $r AS rank, a, b, c FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $base,
       |$roundCtes,
       |allbest AS (
       |  $allBest
       |)
       |SELECT CAST(rank AS BIGINT) AS rank, a, b, a || b AS merged FROM (
       |  SELECT *, MIN(c) OVER (ORDER BY rank) AS mincum FROM allbest)
       |WHERE mincum >= $minCount ORDER BY rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesDuck(64, 2L),

    "q_pretokenize" ->
      s"""WITH d AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' release v' || CAST(doc_id % 9 AS VARCHAR) || '.'
         |           || CAST(doc_id % 4 AS VARCHAR) || '-beta!'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' build #' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |           || ' (stable)'
         |         ELSE '' END AS txt
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '[a-z]+')) AS BIGINT) AS n_word,
         |  CAST(len(regexp_extract_all(txt, '[0-9]+')) AS BIGINT) AS n_num,
         |  CAST(len(regexp_extract_all(txt, '[^a-z0-9 ]+')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(txt, '[a-z]+'))
         |    + len(regexp_extract_all(txt, '[0-9]+'))
         |    + len(regexp_extract_all(txt, '[^a-z0-9 ]+')) AS BIGINT) AS n_tok,
         |  ROUND(CAST(COALESCE(list_sum(list_transform(
         |      regexp_extract_all(txt, '[a-z]+'), w -> length(w))), 0) AS DOUBLE)
         |    / greatest(len(regexp_extract_all(txt, '[a-z]+')), 1), 6)
         |    AS avg_word_len
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
         |  len(${tokensDuck("text")}) AS n_tokens,
         |  len(list_distinct(${tokensDuck("text")})) AS n_distinct,
         |  CAST(length(text) AS INT) AS n_chars_calc
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH d AS (SELECT doc_id, text, n_chars, ${tokensDuck("text")} AS toks FROM documents)
         |SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  ROUND(CAST(${langScoreDuck("toks", stopwords)} AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
         |  ROUND((length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
         |  CASE WHEN n_chars < 200 THEN 'short' WHEN n_chars < 400 THEN 'medium'
         |       ELSE 'long' END AS len_bin
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_gopher_rules" -> {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopSum = stops
        .map(w => s"CAST(regexp_matches(txt, '\\b$w\\b') AS INT)")
        .mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- first bullet item' ||
         |      chr(10) || '- second bullet item' || chr(10) || 'to be continued...'
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || '#### ${"$$$"} ####'
         |      ELSE '' END AS txt
         |  FROM documents
         |), e AS (
         |  SELECT doc_id, txt,
         |    regexp_split_to_array(txt, '\\s+') AS words,
         |    string_split(txt, chr(10)) AS lines
         |  FROM d
         |), f AS (
         |  SELECT doc_id,
         |    CAST(len(words) AS INT) AS n_words,
         |    ROUND(CAST(length(regexp_replace(txt, '\\s', '', 'g')) AS DOUBLE)
         |      / len(words), 6) AS mean_word_len,
         |    ROUND(CAST(length(txt) - length(replace(txt, '#', ''))
         |      + (length(txt) - length(replace(txt, '...', ''))) // 3 AS DOUBLE)
         |      / len(words), 6) AS symbol_ratio,
         |    ROUND(CAST(len(list_filter(lines, l -> l LIKE '- %')) AS DOUBLE)
         |      / len(lines), 6) AS frac_bullet_lines,
         |    ROUND(CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
         |      / len(lines), 6) AS frac_ellipsis_lines,
         |    ROUND(CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
         |      AS DOUBLE) / len(words), 6) AS frac_alpha_words,
         |    $stopSum AS n_stop_distinct
         |  FROM e
         |)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  frac_bullet_lines, frac_ellipsis_lines, frac_alpha_words,
         |  n_stop_distinct,
         |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
         |   AND symbol_ratio <= 0.1 AND frac_bullet_lines <= 0.9
         |   AND frac_ellipsis_lines <= 0.3 AND frac_alpha_words >= 0.8
         |   AND n_stop_distinct >= 2) AS passes
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "q_lang_id" -> {
      val scores = langMarkers
        .map { case (l, ws) => s"${langScoreDuck("toks", ws)} AS s_$l" }
        .mkString(",\n    ")
      s"""WITH d AS (SELECT doc_id, lang, ${tokensDuck("text")} AS toks FROM documents),
         |s AS (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM d
         |)
         |SELECT doc_id, lang, ${langArgmax(l => s"s_$l")} AS lang_pred,
         |  CAST(${langArgmax(l => s"s_$l")} = lang AS INT) AS is_match,
         |  ${langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")}
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_zipf_fit" ->
      s"""WITH u AS (
         |  SELECT unnest(${tokenHashesDuck("text")}) AS h FROM documents
         |), c AS (
         |  SELECT h, COUNT(*) AS cnt FROM u GROUP BY h
         |), r AS (
         |  SELECT cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, h) AS DOUBLE) AS rnk
         |  FROM c
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |  ROUND(covar_pop(ln(cnt), ln(rnk)) / var_pop(ln(rnk)), 6) AS zipf_slope,
         |  ROUND(avg(ln(cnt))
         |    - ROUND(covar_pop(ln(cnt), ln(rnk)) / var_pop(ln(rnk)), 6)
         |      * avg(ln(rnk)), 6) AS ln_c,
         |  ROUND(corr(ln(rnk), ln(cnt)) * corr(ln(rnk), ln(cnt)), 6) AS r2
         |FROM r""".stripMargin,

    "q_doc_fingerprint" ->
      s"""SELECT doc_id, ${charHashDuck("text")} AS fp,
         |  ${charHashDuck("text")} % 1024 AS fp_bucket
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_substring_dup" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 20 = 0 THEN text ||
         |      repeat(' standard legal disclaimer appended to every syndicated document', 6)
         |    ELSE text END AS text
         |  FROM documents
         |), w AS (
         |  SELECT doc_id, unnest(CASE WHEN length(text) >= 64 THEN
         |    list_transform(generate_series(0, (length(text) - 64) // 16), i ->
         |      ${charHashDuck("substr(text, i * 16 + 1, 64)")})
         |    ELSE CAST([] AS BIGINT[]) END) AS whash
         |  FROM d
         |), dup AS (
         |  SELECT whash, 1 AS dup FROM (
         |    SELECT whash, COUNT(*) AS nd
         |    FROM (SELECT DISTINCT doc_id, whash FROM w) GROUP BY whash
         |  ) WHERE nd > 1
         |)
         |SELECT w.doc_id, COUNT(*) AS n_win,
         |  CAST(SUM(CASE WHEN dup.dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  ROUND(CAST(SUM(CASE WHEN dup.dup IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS dup_frac
         |FROM w LEFT JOIN dup ON w.whash = dup.whash
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,

    "q_substring_winnow" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 20 = 0 THEN text
         |      || repeat('x', CAST(doc_id % 16 AS INT))
         |      || repeat(' standard legal disclaimer appended to every syndicated document', 4)
         |    ELSE text END AS text
         |  FROM documents
         |), hs AS (
         |  SELECT doc_id, CASE WHEN length(text) >= 64 THEN
         |    list_transform(generate_series(0, length(text) - 64), i ->
         |      ${charHashDuck("substr(text, i + 1, 64)")})
         |    ELSE CAST([] AS BIGINT[]) END AS hs
         |  FROM d
         |), fp AS (
         |  SELECT doc_id, unnest(CASE
         |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
         |    WHEN len(hs) <= 16 THEN [list_min(hs)]
         |    ELSE list_distinct(list_transform(generate_series(0, len(hs) - 16),
         |      s -> list_min(hs[s + 1:s + 16])))
         |  END) AS fp
         |  FROM hs
         |), dup AS (
         |  SELECT fp, 1 AS dup FROM (
         |    SELECT fp, COUNT(*) AS nd FROM fp GROUP BY fp
         |  ) WHERE nd > 1
         |)
         |SELECT f.doc_id, COUNT(*) AS n_fp,
         |  CAST(SUM(CASE WHEN dup.dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  ROUND(CAST(SUM(CASE WHEN dup.dup IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS dup_frac
         |FROM fp f LEFT JOIN dup ON f.fp = dup.fp
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    "q_stopword_filter" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(${tokensDuck("text")}, t -> NOT t IN $stopList) AS kept
         |  FROM documents
         |)
         |SELECT doc_id, len(kept) AS n_kept,
         |  array_to_string(kept[1:5], ' ') AS kept_head
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
         |), f AS (
         |  SELECT doc_id, ${charHashDuck("text")} AS fp FROM u
         |)
         |SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_copies
         |FROM f GROUP BY fp HAVING COUNT(*) > 1
         |ORDER BY canonical_id""".stripMargin,

    "q_minhash_signature" ->
      s"""WITH ${sigCte()}
         |SELECT doc_id, ${(0 until nMinhash).map(i => s"mh$i").mkString(", ")}
         |FROM mh ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH ${sigCte()}, ${lshPairsCte("documents")}
         |SELECT doc_a, doc_b, jac FROM verified WHERE jac >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_corpus_clean" ->
      s"""WITH q AS (
         |  SELECT doc_id, text, ${tokensDuck("text")} AS toks FROM documents
         |), qual AS (
         |  SELECT doc_id, text, len(toks) AS n_tokens,
         |    CAST(${langScoreDuck("toks", stopwords)} AS DOUBLE) / len(toks) AS stop_ratio,
         |    ${charHashDuck("text")} AS fp
         |  FROM q WHERE len(toks) >= 30
         |), qual2 AS (
         |  SELECT * FROM qual WHERE stop_ratio <= 0.4
         |), ex AS (
         |  SELECT doc_id, text, n_tokens, stop_ratio, fp FROM (
         |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM qual2
         |  ) WHERE rn = 1
         |), ${sigCte("ex")}, ${lshPairsCte("ex")}
         |SELECT doc_id, n_tokens, ROUND(stop_ratio, 6) AS stop_ratio, fp
         |FROM ex
         |WHERE doc_id NOT IN (SELECT doc_b FROM verified WHERE jac >= 0.5)
         |ORDER BY doc_id""".stripMargin,

    "q_doc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks) - 10, 1), 40)) AS start
         |  FROM d
         |)
         |SELECT doc_id, CAST(start AS INT) AS start,
         |  len(toks[start:start + 49]) AS chunk_len,
         |  ${charHashDuck("array_to_string(toks[start:start + 49], ' ')")} AS chunk_fp
         |FROM s ORDER BY doc_id, start""".stripMargin,

    "q_seq_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM d
        |)
        |SELECT doc_id, n_tokens,
        |  (cum - n_tokens) // 1024 AS seq_id,
        |  (cum - n_tokens) % 1024 AS offset_in_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_token_topk" ->
      s"""WITH t AS (
         |  SELECT unnest(${tokensDuck("text")}) AS token FROM documents
         |)
         |SELECT token, COUNT(*) AS cnt FROM t GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "q_pmi_bigrams" ->
      s"""WITH d AS (
         |  SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents
         |), u AS (
         |  SELECT unnest(toks) AS tok FROM d
         |), uni AS (
         |  SELECT tok, COUNT(*) AS c FROM u GROUP BY tok
         |), nu AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM u
         |), bgr AS (
         |  SELECT toks[i] AS a, toks[i + 1] AS b
         |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  WHERE len(toks) >= 2
         |), bi AS (
         |  SELECT a, b, COUNT(*) AS c_xy FROM bgr GROUP BY a, b
         |), nb AS (
         |  SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bi
         |)
         |SELECT bi.a, bi.b, c_xy,
         |  ROUND(ln(CAST(c_xy AS DOUBLE)) + 2.0 * ln(CAST(n_uni AS DOUBLE))
         |    - ln(CAST(n_bi AS DOUBLE)) - ln(CAST(ca.c AS DOUBLE))
         |    - ln(CAST(cb.c AS DOUBLE)), 6) AS pmi
         |FROM bi
         |JOIN uni ca ON bi.a = ca.tok
         |JOIN uni cb ON bi.b = cb.tok
         |CROSS JOIN nu CROSS JOIN nb
         |WHERE c_xy >= 5
         |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,

    "q_token_entropy" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest(${tokensDuck("text")}) AS tok FROM documents
         |), c AS (
         |  SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok
         |)
         |SELECT lang, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_distinct,
         |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) -
         |    CAST(SUM(CAST(ROUND(c * ln(c), 6) AS DECIMAL(18,6))) AS DOUBLE)
         |      / SUM(c), 6) AS entropy
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokensDuck("text")}) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
         |), df AS (
         |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
         |), n AS (
         |  SELECT COUNT(*) AS n_docs FROM documents
         |), scored AS (
         |  SELECT doc_id, tf.token AS token, tf.tf AS tf, df.df AS df,
         |    ROUND(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
         |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
         |), ranked AS (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, token, tf, df, tfidf, rnk FROM ranked
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_bm25_topk" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id, unnest(th) AS h FROM t0
         |), post AS (
         |  SELECT doc_id AS cand_id, h, COUNT(*) AS tf
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id AS cand_id, COUNT(*) AS dl
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1
         |), st AS (SELECT COUNT(*) AS nn, SUM(dl) AS tdl FROM dl),
         |dfq AS (SELECT h, COUNT(*) AS df FROM post GROUP BY 1),
         |q AS (
         |  SELECT DISTINCT doc_id AS query_id, h
         |  FROM p WHERE doc_id % 97 = 0 AND doc_id < 5000
         |), sc AS (
         |  SELECT q.query_id, post.cand_id,
         |    ROUND(ln((CAST(nn - df AS DOUBLE) + 0.5) /
         |        (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |          * CAST(nn AS DOUBLE) / CAST(tdl AS DOUBLE))), 6) AS term
         |  FROM post JOIN q USING (h) JOIN dfq USING (h)
         |    JOIN dl USING (cand_id) CROSS JOIN st
         |), agg AS (
         |  SELECT query_id, cand_id, COUNT(*) AS n_terms,
         |    SUM(CAST(term AS DECIMAL(18,6))) AS score
         |  FROM sc GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cand_id) AS INT) AS rnk
         |  FROM agg
         |)
         |SELECT query_id, cand_id, n_terms, CAST(score AS DOUBLE) AS bm25, rnk
         |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Same BM25 chain; top-10 per query, drop same-(lang, source) golds,
    // re-rank the survivors.
    "q_hard_negatives" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id, unnest(th) AS h FROM t0
         |), post AS (
         |  SELECT doc_id AS cand_id, h, COUNT(*) AS tf
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id AS cand_id, COUNT(*) AS dl
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1
         |), st AS (SELECT COUNT(*) AS nn, SUM(dl) AS tdl FROM dl),
         |dfq AS (SELECT h, COUNT(*) AS df FROM post GROUP BY 1),
         |q AS (
         |  SELECT DISTINCT doc_id AS query_id, h
         |  FROM p WHERE doc_id % 97 = 0 AND doc_id < 5000
         |), sc AS (
         |  SELECT q.query_id, post.cand_id,
         |    ROUND(ln((CAST(nn - df AS DOUBLE) + 0.5) /
         |        (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |          * CAST(nn AS DOUBLE) / CAST(tdl AS DOUBLE))), 6) AS term
         |  FROM post JOIN q USING (h) JOIN dfq USING (h)
         |    JOIN dl USING (cand_id) CROSS JOIN st
         |), agg AS (
         |  SELECT query_id, cand_id,
         |    SUM(CAST(term AS DECIMAL(18,6))) AS score
         |  FROM sc GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cand_id) AS INT) AS rnk_all
         |  FROM agg QUALIFY rnk_all <= 10
         |), neg AS (
         |  SELECT r.query_id, r.cand_id, r.score, r.rnk_all,
         |    CAST(row_number() OVER (PARTITION BY r.query_id
         |      ORDER BY r.rnk_all) AS INT) AS rnk
         |  FROM rk r
         |  JOIN documents qd ON qd.doc_id = r.query_id
         |  JOIN documents cd ON cd.doc_id = r.cand_id
         |  WHERE NOT (qd.lang = cd.lang AND qd.source = cd.source)
         |)
         |SELECT query_id, cand_id, CAST(score AS DOUBLE) AS bm25, rnk_all, rnk
         |FROM neg WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    "q_rrf_fusion" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id, unnest(th) AS h FROM t0
         |), post AS (
         |  SELECT doc_id AS cand_id, h, COUNT(*) AS tf
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id AS cand_id, COUNT(*) AS dl
         |  FROM p WHERE NOT (doc_id % 97 = 0 AND doc_id < 5000) GROUP BY 1
         |), st AS (SELECT COUNT(*) AS nn, SUM(dl) AS tdl FROM dl),
         |dfq AS (SELECT h, COUNT(*) AS df FROM post GROUP BY 1),
         |qpost AS (
         |  SELECT doc_id AS query_id, h, COUNT(*) AS qtf
         |  FROM p WHERE doc_id % 97 = 0 AND doc_id < 5000 GROUP BY 1, 2
         |), bmsc AS (
         |  SELECT qpost.query_id, post.cand_id,
         |    ROUND(ln((CAST(nn - df AS DOUBLE) + 0.5) /
         |        (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
         |          * CAST(nn AS DOUBLE) / CAST(tdl AS DOUBLE))), 6) AS term
         |  FROM post JOIN qpost USING (h) JOIN dfq USING (h)
         |    JOIN dl USING (cand_id) CROSS JOIN st
         |), bm AS (
         |  SELECT query_id, cand_id, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY score DESC, cand_id) AS INT) AS rnk1
         |  FROM (SELECT query_id, cand_id,
         |    SUM(CAST(term AS DECIMAL(18,6))) AS score
         |    FROM bmsc GROUP BY 1, 2) QUALIFY rnk1 <= 10
         |), widf AS (
         |  SELECT h, ln(CAST(nn AS DOUBLE) / CAST(df AS DOUBLE)) AS idf
         |  FROM dfq CROSS JOIN st
         |), dnorm AS (
         |  SELECT cand_id, sqrt(CAST(SUM(CAST(
         |      ROUND(pow(CAST(tf AS DOUBLE) * idf, 2), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE)) AS nd
         |  FROM post JOIN widf USING (h) GROUP BY 1
         |), qvec AS (
         |  SELECT query_id, h, CAST(qtf AS DOUBLE) * idf AS wq
         |  FROM qpost JOIN widf USING (h)
         |), qnorm AS (
         |  SELECT query_id, sqrt(CAST(SUM(CAST(ROUND(pow(wq, 2), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE)) AS nq
         |  FROM qvec GROUP BY 1
         |), cosr AS (
         |  SELECT query_id, cand_id, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INT) AS rnk2
         |  FROM (
         |    SELECT d.query_id, d.cand_id,
         |      ROUND(CAST(d.dot AS DOUBLE) / (q.nq * n.nd), 6) AS cos
         |    FROM (
         |      SELECT qvec.query_id, post.cand_id,
         |        SUM(CAST(ROUND(wq * (CAST(tf AS DOUBLE) * idf), 6)
         |          AS DECIMAL(18,6))) AS dot
         |      FROM post JOIN widf USING (h) JOIN qvec USING (h)
         |      GROUP BY 1, 2) d
         |    JOIN dnorm n USING (cand_id) JOIN qnorm q USING (query_id))
         |  QUALIFY rnk2 <= 10
         |), fused AS (
         |  SELECT query_id, cand_id, rnk1, rnk2,
         |    CAST(COALESCE(ROUND(CAST(1 AS DOUBLE) / (60 + rnk1), 6), 0)
         |      AS DECIMAL(18,6)) +
         |    CAST(COALESCE(ROUND(CAST(1 AS DOUBLE) / (60 + rnk2), 6), 0)
         |      AS DECIMAL(18,6)) AS rrf
         |  FROM bm FULL JOIN cosr USING (query_id, cand_id)
         |), rk AS (
         |  SELECT query_id, cand_id, rnk1, rnk2, CAST(rrf AS DOUBLE) AS rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, cand_id) AS INT) AS rnk
         |  FROM fused
         |)
         |SELECT query_id, cand_id, rnk1, rnk2, rrf, rnk
         |FROM rk WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    "q_simhash" ->
      s"""WITH th AS (SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents)
         |SELECT doc_id, ${simhash16Duck("th")} AS sh16,
         |  ${simhash16Duck("th")} >> 8 AS sh_bucket
         |FROM th ORDER BY doc_id""".stripMargin,

    "q_simhash_pairs" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra' AS text
         |  FROM documents WHERE doc_id % 40 = 0
         |), th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM u
         |), sig AS (
         |  SELECT doc_id, ${simhash60Duck("th")} AS sh FROM th
         |), combos(tid, c0, c1, c2) AS (
         |  VALUES $mankuCombosDuck
         |), bands AS (
         |  SELECT doc_id, sh, tid AS band, ${mankuKeyDuck("sh")} AS bkey
         |  FROM sig CROSS JOIN combos
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    x.sh AS sa, y.sh AS sb
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_components" ->
      s"""WITH RECURSIVE ${sigCte()}, ${lshPairsCte("documents")}, pe AS (
         |  SELECT doc_a, doc_b FROM verified WHERE jac >= 0.3
         |), e2 AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pe
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pe
         |), reach(s, t) AS (
         |  SELECT s, t FROM e2
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
         |)
         |SELECT s AS doc_id, least(s, min(t)) AS component_id
         |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,

    "q_dedup_index_stats" ->
      s"""WITH RECURSIVE ${sigCte()}, ${lshPairsCte("documents")}, pe AS (
         |  SELECT doc_a, doc_b FROM verified WHERE jac >= 0.3
         |), e2 AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pe
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pe
         |), reach(s, t) AS (
         |  SELECT s, t FROM e2
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
         |), labels AS (
         |  SELECT s AS doc_id, least(s, min(t)) AS component
         |  FROM reach GROUP BY s
         |), szs AS (
         |  SELECT component, COUNT(*) AS sz FROM labels GROUP BY component
         |)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM labels) AS n_clustered_docs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM szs) AS n_clusters,
         |  (SELECT CAST(MAX(sz) AS BIGINT) FROM szs) AS max_cluster""".stripMargin,

    "q_leakage_split" ->
      s"""WITH RECURSIVE ${sigCte()}, ${lshPairsCte("documents")}, pe AS (
         |  SELECT doc_a, doc_b FROM verified WHERE jac >= 0.3
         |), e2 AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pe
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pe
         |), reach(s, t) AS (
         |  SELECT s, t FROM e2
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
         |), labels AS (
         |  SELECT s AS doc_id, least(s, min(t)) AS component_id
         |  FROM reach GROUP BY s
         |), assign AS (
         |  SELECT d.doc_id,
         |    COALESCE(l.component_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l USING (doc_id)
         |), spl AS (
         |  SELECT doc_id, cluster_id,
         |    CASE
         |      WHEN cluster_id % 1000000007 * 2654435761 % 1000000007 % 10 < 8 THEN 'train'
         |      WHEN cluster_id % 1000000007 * 2654435761 % 1000000007 % 10 = 8 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM assign
         |), leak AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky_clusters FROM (
         |    SELECT cluster_id FROM spl
         |    GROUP BY cluster_id HAVING COUNT(DISTINCT split) > 1)
         |)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  n_leaky_clusters
         |FROM spl CROSS JOIN leak
         |GROUP BY split, n_leaky_clusters
         |ORDER BY split""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE ${sigCte()}, ${lshPairsCte("documents")}, pe AS (
         |  SELECT doc_a, doc_b FROM verified WHERE jac >= 0.3
         |), e2 AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pe
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pe
         |), reach(s, t) AS (
         |  SELECT s, t FROM e2
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
         |), labels AS (
         |  SELECT s AS doc_id, least(s, min(t)) AS component_id
         |  FROM reach GROUP BY s
         |), assign AS (
         |  SELECT d.doc_id, d.n_chars,
         |    COALESCE(l.component_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l USING (doc_id)
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM assign
         |)
         |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
         |  MAX(CASE WHEN rn = 1 THEN n_chars END) AS kept_n_chars
         |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 500000 AS doc_id, text || ' extra' AS text
         |  FROM documents WHERE doc_id % 40 = 1
         |), ${sigCte("u")}, bands AS (
         |  ${(0 until nBands).map { b =>
             s"SELECT doc_id, $b AS band, mh${2 * b} * $PM + mh${2 * b + 1} AS bkey FROM mh"
           }.mkString("\n  UNION ALL\n  ")}
         |), cand AS (
         |  SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
         |  FROM bands bb JOIN bands cb
         |    ON bb.band = cb.band AND bb.bkey = cb.bkey
         |  WHERE (bb.doc_id % 10 = 0 OR bb.doc_id >= 500000)
         |    AND NOT (cb.doc_id % 10 = 0 OR cb.doc_id >= 500000)
         |), toksets AS (
         |  SELECT doc_id, list_distinct(${tokenHashesDuck("text")}) AS tset
         |  FROM u
         |), scored AS (
         |  SELECT bid, cid,
         |    ROUND(${jaccardDuck("ta.tset", "tb.tset")}, 6) AS jac
         |  FROM cand
         |  JOIN toksets ta ON ta.doc_id = bid
         |  JOIN toksets tb ON tb.doc_id = cid
         |), best AS (
         |  SELECT bid, cid, jac, row_number() OVER
         |    (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
         |  FROM scored WHERE jac >= 0.3
         |)
         |SELECT u.doc_id,
         |  best.cid IS NOT NULL AS is_dup,
         |  best.cid AS match_id, best.jac AS match_jac
         |FROM u LEFT JOIN best ON best.bid = u.doc_id AND best.rn = 1
         |WHERE u.doc_id % 10 = 0 OR u.doc_id >= 500000
         |ORDER BY u.doc_id""".stripMargin,

    // Full rebuild from raw text — deliberately NOT the incremental
    // path: a hash match proves DedupIndex.update ≡ rebuild.
    "q_dedup_index_update" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 500000 AS doc_id, text || ' extra' AS text
         |  FROM documents WHERE doc_id % 40 = 1
         |), ${sigCte("u")}, ${lshPairsCte("u")}, pe AS (
         |  SELECT doc_a, doc_b FROM verified WHERE jac >= 0.3
         |), e2 AS (
         |  SELECT doc_a AS s, doc_b AS t FROM pe
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS t FROM pe
         |), reach(s, t) AS (
         |  SELECT s, t FROM e2
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
         |), labels AS (
         |  SELECT s AS doc_id, least(s, min(t)) AS component_id
         |  FROM reach GROUP BY s
         |)
         |SELECT u.doc_id, COALESCE(l.component_id, u.doc_id) AS cluster_id
         |FROM u LEFT JOIN labels l ON l.doc_id = u.doc_id
         |ORDER BY u.doc_id""".stripMargin,

    "q_jaccard_topk_lsh" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra' AS text
         |  FROM documents WHERE doc_id % 40 = 0
         |), ${sigCte("u")}, bands AS (
         |  ${(0 until nBands).map { b =>
             s"SELECT doc_id, $b AS band, mh${2 * b} * $PM + mh${2 * b + 1} AS bkey FROM mh"
           }.mkString("\n  UNION ALL\n  ")}
         |), cand AS (
         |  SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS cand_id
         |  FROM bands p JOIN bands c
         |    ON p.band = c.band AND p.bkey = c.bkey AND p.doc_id <> c.doc_id
         |  WHERE p.doc_id % 20 = 0
         |), toksets AS (
         |  SELECT doc_id, list_distinct(${tokenHashesDuck("text")}) AS tset
         |  FROM u
         |), scored AS (
         |  SELECT probe_id, cand_id,
         |    ROUND(${jaccardDuck("ta.tset", "tb.tset")}, 6) AS jac
         |  FROM cand
         |  JOIN toksets ta ON ta.doc_id = probe_id
         |  JOIN toksets tb ON tb.doc_id = cand_id
         |), ranked AS (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY probe_id ORDER BY jac DESC, cand_id) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT probe_id, cand_id, jac, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY probe_id, rnk""".stripMargin,

    // brute-force ALL pairs — deliberately NOT the prefix-filter plan, so
    // the prefix scheme's zero-false-negative guarantee is oracle-checked
    "q_ppjoin" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000 AS doc_id, text || ' extra' AS text
         |  FROM documents WHERE doc_id % 40 = 0
         |), th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM u
         |), toks AS (
         |  SELECT doc_id, list_distinct(${gramHashesDuck("th", 5)}) AS tset
         |  FROM th
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ROUND(${jaccardDuck("a.tset", "b.tset")}, 6) AS jac
         |FROM toks a JOIN toks b ON a.doc_id < b.doc_id
         |WHERE ${jaccardDuck("a.tset", "b.tset")} >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, list_distinct(${tokenHashesDuck("text")}) AS tset FROM documents
         |), scored AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
         |    ROUND(${jaccardDuck("p.tset", "c.tset")}, 6) AS jac
         |  FROM toks p JOIN toks c ON p.lang = c.lang AND p.doc_id <> c.doc_id
         |  WHERE p.doc_id % 20 = 0 AND p.doc_id < 5000
         |), ranked AS (
         |  SELECT *, CAST(row_number() OVER
         |    (PARTITION BY probe_id ORDER BY jac DESC, cand_id) AS INT) AS rnk
         |  FROM scored
         |)
         |SELECT probe_id, cand_id, jac, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY probe_id, rnk""".stripMargin,

    "q_repetition_filter" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), bg AS (
         |  SELECT doc_id, CAST(len(th) AS BIGINT) AS n_tokens,
         |    ${gramHashesDuck("th", 2)} AS bga
         |  FROM th
         |), bgs AS (
         |  SELECT doc_id, n_tokens, CAST(len(bga) AS BIGINT) AS nb,
         |    CAST(len(list_distinct(bga)) AS BIGINT) AS nd
         |  FROM bg
         |), u AS (
         |  SELECT doc_id, unnest(th) AS tok FROM th
         |), c AS (
         |  SELECT doc_id, tok, COUNT(*) AS cnt FROM u GROUP BY doc_id, tok
         |), tp AS (
         |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top1,
         |    CAST(sum(cnt) AS BIGINT) AS ntok
         |  FROM c GROUP BY doc_id
         |), j AS (
         |  SELECT b.doc_id, b.n_tokens,
         |    ROUND(CAST(top1 AS DOUBLE) / ntok, 6) AS top1_frac,
         |    ROUND(CASE WHEN nb > 0 THEN 1.0 - CAST(nd AS DOUBLE) / nb
         |      ELSE 0.0 END, 6) AS dup_bigram_frac
         |  FROM bgs b JOIN tp USING (doc_id)
         |)
         |SELECT doc_id, n_tokens, top1_frac, dup_bigram_frac,
         |  (top1_frac > 0.12 OR dup_bigram_frac > 0.05) AS flagged
         |FROM j ORDER BY doc_id""".stripMargin,

    "q_corpus_report" ->
      s"""WITH d AS (
         |  SELECT source, lang, n_chars, len(${tokensDuck("text")}) AS nt,
         |    ${charHashDuck("text")} AS fp
         |  FROM documents
         |)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
         |  ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
         |  CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |  COUNT(DISTINCT fp) AS n_unique_fp
         |FROM d GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "q_lm_kneser" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1), i -> th[i])
         |      ELSE [] END) AS h1,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1), i -> th[i + 1])
         |      ELSE [] END) AS h2
         |  FROM th
         |), big AS (
         |  SELECT h1, h2, COUNT(*) AS cxy FROM p GROUP BY h1, h2
         |), ctx AS (
         |  SELECT h1, CAST(SUM(cxy) AS BIGINT) AS cx, COUNT(*) AS n1f
         |  FROM big GROUP BY h1
         |), bwd AS (
         |  SELECT h2, COUNT(*) AS n1b FROM big GROUP BY h2
         |), tot AS (
         |  SELECT COUNT(*) AS tt FROM big
         |), scored AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    SUM(CAST(ROUND(ln(
         |      (CAST(cxy AS DOUBLE) - 0.75) / CAST(cx AS DOUBLE)
         |      + (CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE) / CAST(cx AS DOUBLE))
         |        * (CAST(n1b AS DOUBLE) / CAST(tt AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS sdec
         |  FROM p JOIN big USING (h1, h2) JOIN ctx USING (h1)
         |    JOIN bwd USING (h2) CROSS JOIN tot
         |  GROUP BY doc_id
         |)
         |SELECT doc_id, n_bigrams, CAST(sdec AS DOUBLE) AS kn_sum,
         |  sdec > -7 * n_bigrams AS keep
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1), i -> th[i])
         |      ELSE [] END) AS h1,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1),
         |        i -> (th[i] * 31 + th[i + 1]) % $P)
         |      ELSE [] END) AS bg
         |  FROM th
         |), uni AS (
         |  SELECT h1, COUNT(*) AS cx FROM p GROUP BY h1
         |), big AS (
         |  SELECT h1, bg, COUNT(*) AS cxy FROM p GROUP BY h1, bg
         |)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ROUND(CAST(SUM(CAST(ROUND(ln(CAST(cxy AS DOUBLE) / cx), 6)
         |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS lm_avg
         |FROM p JOIN big USING (h1, bg) JOIN uni USING (h1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ppl_buckets" ->
      s"""WITH th AS (
         |  SELECT doc_id, lang, ${tokenHashesDuck("text")} AS th FROM documents
         |), p AS (
         |  SELECT doc_id, lang,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1), i -> th[i])
         |      ELSE [] END) AS h1,
         |    unnest(CASE WHEN len(th) >= 2 THEN
         |      list_transform(generate_series(1, len(th) - 1),
         |        i -> (th[i] * 31 + th[i + 1]) % $P)
         |      ELSE [] END) AS bg
         |  FROM th
         |), uni AS (
         |  SELECT h1, COUNT(*) AS cx FROM p GROUP BY h1
         |), big AS (
         |  SELECT h1, bg, COUNT(*) AS cxy FROM p GROUP BY h1, bg
         |), scored AS (
         |  SELECT doc_id, lang,
         |    ROUND(CAST(SUM(CAST(ROUND(ln(CAST(cxy AS DOUBLE) / cx), 6)
         |      AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS lm_avg
         |  FROM p JOIN big USING (h1, bg) JOIN uni USING (h1)
         |  GROUP BY doc_id, lang
         |), tiled AS (
         |  SELECT doc_id, lang, lm_avg,
         |    CAST(ntile(3) OVER (PARTITION BY lang
         |      ORDER BY lm_avg DESC, doc_id) AS INT) AS bucket
         |  FROM scored
         |)
         |SELECT doc_id, lang, lm_avg, bucket,
         |  CASE WHEN bucket = 1 THEN 'head'
         |       WHEN bucket = 2 THEN 'middle'
         |       ELSE 'tail' END AS tier
         |FROM tiled ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${tokenHashesDuck("text")} AS th FROM documents
         |), g AS (
         |  SELECT doc_id, unnest(${gramHashesDuck("th", 8)}) AS g FROM th
         |), ev AS (
         |  SELECT DISTINCT g AS eg FROM g WHERE doc_id % 97 = 0 AND g IS NOT NULL
         |), tr AS (
         |  SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0
         |)
         |SELECT tr.doc_id, COUNT(DISTINCT ev.eg) AS n_hits,
         |  COUNT(DISTINCT ev.eg) > 0 AS contaminated
         |FROM tr LEFT JOIN ev ON tr.g = ev.eg
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin
  )
}
