package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.CutSyntax
import graft.Tables
import graft.QueryKit._

/** Corpus-governance and graph operators a large-scale training-data
  * pipeline needs beyond the reference's surface: PII detection/redaction,
  * C4-style segment filtering, cross-corpus span dedup, mixture
  * rebalancing, robust (MAD) outlier stats, rank-family windows, and an
  * exact-integer PageRank. Every query has a DuckDB oracle.
  */
object PipelineQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // The documents corpus is synthetic prose with no real PII, so the scan
  // plants deterministic PII (email every 3rd doc, phone+IP every 5th)
  // BEFORE detecting it — the regex machinery is exercised against known
  // ground truth instead of vacuously counting zero matches.
  private val emailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val phoneRe = """\b\d{3}-\d{4}\b"""
  private val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PII scan + redaction — per-doc entity counts and a fully redacted
    // text. One projection pass, no shuffle until the final presentation
    // sort: at 100 TB this is a map-only stage that pushes straight onto
    // the parquet scan. Redaction replaces emails first so the IP pattern
    // can never bite on an already-redacted fragment.
    "q_pii_scan" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".7"))).otherwise(lit(""))).as("txt"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phone"),
          size(regexp_extract_all(col("txt"), lit(ipRe), lit(0)))
            .cast("long").as("n_ip"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("txt"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"),
            ipRe, "<IP>").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // C4-style segment filter via higher-order functions: split each doc
    // into segments (on the stopword delimiter " the "), keep segments
    // that are long enough (≥8 words) AND on-topic ('table'), reassemble.
    // filter()/array_join() stay inside whole-stage codegen — no explode,
    // no shuffle, no UDF; per-row cost is independent of corpus size.
    "q_line_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("segs", split(col("text"), " the "))
        .withColumn("kept",
          expr("filter(segs, x -> size(split(x, ' ')) >= 8 AND x LIKE '%table%')"))
        .select(col("doc_id"),
          size(col("segs")).cast("long").as("n_seg"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), " | ").as("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // CORPUS-FREQUENCY boilerplate removal — the CCNet/RefinedWeb rule
    // q_line_filter (per-doc heuristics) cannot express: a segment is
    // boilerplate when it recurs across ≥1% of DISTINCT documents
    // (nav bars, disclaimers, subscribe prompts), whatever its content.
    // The synthetic corpus has no natural recurring segments, so the
    // query plants two (the dedup family's injection pattern) on
    // deterministic doc_id slices and must strip exactly those. Scale
    // shape: the frequency pass shuffles (md5, doc_id) pairs — never
    // segment text; the boilerplate set is corpus-frequency-bounded
    // (≤100 segments can each cover ≥1% of docs... per unique text;
    // in practice tiny) and broadcasts into a map-side anti join; the
    // only corpus-sized shuffle is the doc_id regroup for reassembly,
    // the same exchange q_chunk_dedup pays.
    "q_boilerplate_strip" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 5 < 2,
            lit(" | subscribe to our newsletter for updates")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" | all rights reserved")).otherwise(lit(""))))
      val segs = d.select(col("doc_id"),
          posexplode(split(col("text2"), " \\| ")).as(Seq("pos", "seg")))
      val total = d.select(count(lit(1)).as("n_docs"))
      val boiler = segs
        .groupBy(md5(col("seg")).as("fp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .join(broadcast(total))
        .filter(col("nd") * 100 >= col("n_docs"))
        .select(col("fp"))
      val kept = segs.join(broadcast(boiler),
        md5(col("seg")) === col("fp"), "left_anti")
      kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" | ", expr(
            "transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"))
            .as("cleaned"))
        .join(segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_segs"), col("n_kept"), col("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // Cross-corpus span-level exact dedup (the "remove duplicated
    // passages, not whole documents" operator): docs are cut into 8-word
    // chunks, the first global occurrence of each chunk (by doc_id, then
    // position) survives, later occurrences are dropped and each doc is
    // reassembled from its surviving chunks in order. Shuffles only
    // (chunk, doc_id, ord) triples — never embeddings or full documents —
    // so the heavy exchange is proportional to token count, the same
    // shape exact-substring dedup takes at 100 TB.
    "q_chunk_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .withColumn("nc", expr("size(words) div 8"))
        .withColumn("chunks", expr(
          """CASE WHEN nc >= 1
            |  THEN transform(sequence(0, nc - 1),
            |         i -> array_join(slice(words, i * 8 + 1, 8), ' '))
            |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      val ex = d.select(col("doc_id"),
        posexplode(col("chunks")).as(Seq("ord", "chunk")))
      val ranked = ex.withColumn("rn",
        row_number().over(
          Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("ord"))))
      val dupes = ranked.groupBy(col("doc_id"))
        .agg(sum((col("rn") > 1).cast("long")).as("n_dupes"))
      val kept = ranked.filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(array_join(
          expr("transform(array_sort(collect_list(struct(ord, chunk))), s -> s.chunk)"),
          " ").as("dedup_text"))
      d.select(col("doc_id"), col("nc").cast("long").as("n_chunks"))
        .join(dupes, Seq("doc_id"), "left")
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_dupes"), lit(0L)).as("n_dupes"),
          coalesce(col("dedup_text"), lit("")).as("dedup_text"))
        .orderBy(col("doc_id"))
    }),

    // Training-mixture rebalancing: downsample every language to the
    // smallest language's count, selecting rows by a portable overflow-
    // safe key hash (see q_stratified_sample) so the kept set is identical
    // across engines, runs and partitionings. The per-lang rank does NOT
    // use a per-lang window over document rows — at 100 TB a dominant
    // language (English ≈ half a web corpus) would be ONE window task.
    // GlobalRowNumber.withKeyedRowNumber decomposes it: equi-depth
    // buckets on the hash + per-(lang, bucket) local windows + a
    // per-lang prefix over the (lang, bucket) count table — exact same
    // rank (order is total), every task ~n/64 rows regardless of
    // language skew. The min-count frame is a broadcast scalar.
    "q_lang_rebalance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("h", expr(idHash()))
      val m = d.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .agg(min(col("cnt")).as("m"))
      graft.operators.GlobalRowNumber
        .withKeyedRowNumber(d, Seq("lang"), "h", "rn", Seq("doc_id"))
        .crossJoin(broadcast(m))
        .filter(col("rn") <= col("m"))
        .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
        .orderBy(col("doc_id"))
    }),

    // Domain-level frequency capping — the RefinedWeb/C4 sibling of
    // q_lang_rebalance: keep at most k docs per REGISTRABLE DOMAIN so a
    // single prolific site cannot dominate the training mixture. The URL
    // is synthesized per doc (q_url_parse's provenance convention, plus a
    // rotating subdomain so host ≠ domain), the host comes from Spark's
    // parse_url kernel, the registrable domain from a suffix regex, and
    // selection is a per-domain rank — highest-quality (longest) docs
    // survive, ties by doc_id. The oracle re-derives the domain directly
    // from `source`, so the parse_url→regexp chain is pinned against an
    // independent derivation. Web corpora are domain-skewed, so the rank
    // does NOT use a per-domain window over document rows (a hot domain
    // would be ONE giant task at 100 TB): withKeyedRowNumber's
    // descending mode decomposes it per (domain, bucket) on -n_chars —
    // exact same rank, every task ~n/64 rows regardless of domain skew.
    "q_domain_cap" -> ((s, dir) => {
      val k = 15
      val d = t(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://"),
            element_at(array(lit("www."), lit("m."), lit("")),
              (col("doc_id") % 3 + 1).cast("int")),
            col("source"), lit(".example.org/docs/"),
            col("doc_id").cast("string")))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .withColumn("domain",
          regexp_extract(col("host"), "([^.]+\\.example\\.org)$", 1))
      graft.operators.GlobalRowNumber
        .withKeyedRowNumber(d, Seq("domain"), "n_chars", "rnk",
          Seq("doc_id"), descending = true)
        .select(col("doc_id"), col("domain"),
          col("rnk").cast("int").as("rnk"), (col("rnk") <= k).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // k-anonymity release gate (Sweeney 2002) — the privacy-governance
    // sibling of the PII scan: a row may only be released if its
    // quasi-identifier tuple (lang, source, size bucket) is shared by
    // ≥ k rows. Two-level generalization ladder: fine 100-char buckets,
    // else coarse 500-char buckets, else suppressed. The output models a
    // RELEASE, so the only count emitted is the one for the level that
    // was actually released (≥ k by construction, NULL when suppressed)
    // — emitting the raw fine/coarse equivalence-class sizes would leak
    // exactly the small-group counts suppression is meant to withhold.
    // Shape at 100 TB: two hash aggregations on the QI keys + two
    // shuffled equi-joins back — group frames are
    // corpus-cardinality-bounded, never broadcast, never windowed per
    // row.
    "q_k_anon" -> ((s, dir) => {
      val k = 5
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr("(n_chars div 100) * 100").as("b_fine"),
          expr("(n_chars div 500) * 500").as("b_coarse"))
      val fine = d.groupBy(col("lang"), col("source"), col("b_fine"))
        .agg(count(lit(1)).as("n_fine"))
      val coarse = d.groupBy(col("lang"), col("source"), col("b_coarse"))
        .agg(count(lit(1)).as("n_coarse"))
      d.join(fine, Seq("lang", "source", "b_fine"))
        .join(coarse, Seq("lang", "source", "b_coarse"))
        .withColumn("level",
          when(col("n_fine") >= k, lit("fine"))
            .when(col("n_coarse") >= k, lit("coarse"))
            .otherwise(lit("suppressed")))
        .withColumn("released_bucket",
          when(col("level") === "fine", col("b_fine"))
            .when(col("level") === "coarse", col("b_coarse")))
        .withColumn("released_n",
          when(col("level") === "fine", col("n_fine"))
            .when(col("level") === "coarse", col("n_coarse")))
        .select(col("doc_id"), col("lang"), col("source"),
          col("released_bucket"), col("level"), col("released_n"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic corpus shuffle + balanced sharding — the training
    // export step: a reproducible pseudo-random permutation of the corpus
    // (portable multiplicative hash of doc_id — a bijection mod the prime,
    // so no collisions reorder under ties) assigned round-robin to 8
    // shards, so every shard gets exactly n/8 ±1 docs and sources
    // interleave uniformly. The global rank comes from
    // GlobalRowNumber's bucketed prefix decomposition — NO single-task
    // global sort anywhere; at 100 TB each equi-depth bucket ranks
    // independently and the only global window runs over the 64-row
    // bucket-count table. ShardedExport writes the same assignment as
    // sorted per-shard parquet (spec-gated).
    "q_corpus_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("hkey",
          expr(idHash()))
      graft.operators.GlobalRowNumber.withRowNumber(d, "hkey", "rn", Seq("doc_id"))
        .withColumn("shard", ((col("rn") - 1) % 8).cast("int"))
        .withColumn("pos", expr("(rn - 1) div 8"))
        .select(col("doc_id"), col("hkey"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al.,
    // NeurIPS 2023): pick raw documents whose hashed-n-gram distribution
    // matches a target domain. Features are unigram + bigram token
    // hashes folded into m = 10007 buckets; bag-of-words models with
    // Laplace smoothing fit on the target sample (source = 'src0' here;
    // a curated corpus in production) and on the full raw corpus; a
    // doc's importance weight is the sum over its features of
    // λ_b = log p_tgt(b) − log p_raw(b), and selection is Gumbel-top-k
    // over log w + g — sampling WITHOUT replacement proportionally to w,
    // the paper's resampling step — made deterministic by the portable
    // multiplicative-hash uniform (the q_corpus_shuffle discipline).
    // Scale shape: both fitted models are m-bounded tables, so λ
    // BROADCASTS; the doc side is one scan + explode + one doc_id-keyed
    // aggregation; the top-k rank pays NO single-task sort
    // (GlobalRowNumber: equi-depth buckets + offset prefix over the
    // 64-row bucket-count table). Counts are exact integers; log terms
    // round at 6 dp into DECIMAL accumulators — the oracle replays the
    // fitted models AND the selection bit-for-bit.
    "q_dsir_select" -> ((s, dir) => {
      import graft.functions.TextAnalytics.{tokenHashesSpark, gramHashesSpark}
      val m = 10007
      // Spread ahead of the tokenize+gram front: parallelizes the three
      // explode pipelines when the parquet layout is scan-serial (r15 F1
      // fix; interleaved min-of-10 A/B 3.27→2.91 s); identity at
      // production row-group counts
      val feats = graft.operators.Spread
        .byKey(t(s, dir, "documents"), col("doc_id"))
        .withColumn("th", expr(tokenHashesSpark("text")))
        .select(col("doc_id"), col("source"),
          explode(concat(col("th"), expr(gramHashesSpark("th", 2)))).as("g"))
        .select(col("doc_id"), col("source"), (col("g") % m).as("b"))
        // three consumers (raw fit, target fit, scoring) share ONE
        // exchange on b: AQE ReusedExchange materializes the explode
        // once, the b-groupBys below reuse the partitioning, and loss
        // recovery is plain shuffle recompute (the round-7 pagerank
        // lesson: exchange reuse beats an explicit materialization —
        // measured again here: 2.50 s solo vs 2.97 Materialize.cut and
        // 2.71 the fault-intolerant localCheckpoint both replaced).
        // Round-14 note: an A/B that merged the raw and target fits into
        // one conditional-sum aggregation (2 pipelines instead of 3) was
        // REJECTED — interleaved min-of-10 read it 5% slower, because the
        // target branch's source='src0' predicate pushes into its parquet
        // scan and makes the "extra" pipeline the cheap one.
        .repartition(col("b"))
      val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tgt = feats.filter(col("source") === "src0")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val lambda = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(raw.agg(sum(col("cr")).as("tr"))))
        .crossJoin(broadcast(tgt.agg(sum(col("ct")).as("tt"))))
        .select(col("b"), round(
          log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tt") + m).cast("double")) -
            log((col("cr") + 1).cast("double") / (col("tr") + m).cast("double")),
          6).as("lam"))
      val scored = feats.join(broadcast(lambda), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"),
          sum(col("lam").cast("decimal(18,6)")).as("lw"))
        // Gumbel key: u = (h(doc_id)+1)/(P+2) ∈ (0,1) strictly, so both
        // logs are finite; g = −ln(−ln u) rounded at 6 dp
        .withColumn("gum", round(-log(-log(
          (expr(idHash()) + 1)
            .cast("double") / lit(1000000009.0))), 6))
        .withColumn("neg",
          (-(col("lw") + col("gum").cast("decimal(18,6)"))).cast("double"))
      // budget denominator = the SCORED population (docs with ≥1
      // feature), not the raw document count: a null-text doc explodes
      // to zero features and never enters the ranking, and sizing k by
      // a count it can't reach would silently under-fill the selection
      graft.operators.GlobalRowNumber
        .withRowNumber(scored, "neg", "rn", Seq("doc_id"))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("nn"))))
        .select(col("doc_id"), col("n_feats"),
          col("lw").cast("double").as("logw"), col("gum").as("gumbel"),
          col("rn"), (col("rn") <= expr("nn div 5")).as("selected"))
        .orderBy(col("doc_id"))
    }),

    // Mode (most frequent value) per group with a deterministic tie-break
    // — pandas .mode().iloc[0] / value_counts().idxmax(). Two hash aggs +
    // one tiny window over the (source, lang) count frame; the corpus is
    // never re-shuffled.
    "q_mode" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("mode_lang"), col("cnt"))
        .orderBy(col("source"))
    }),

    // Robust outlier stats via median absolute deviation — the outlier
    // gate that survives heavy tails where z-scores don't. Prices move
    // through integer cents so the interpolation (only ever integer
    // midpoints) and the 3×MAD threshold comparison are bit-identical
    // across engines.
    //
    // Both medians run on the VALUE HISTOGRAM (HistogramQuantiles —
    // cents is domain-bounded, so the per-(flag, cents) count table is
    // what shuffles, never the fact rows): ONE fact scan, 13 jobs. The
    // query calls `quantiles` rather than `exact` because the MAD step
    // re-aggregates the histogram it already built (|cents − med| per
    // value, weights summed) instead of re-reading the fact. NO
    // whole-group percentile buffer — peak task state is one group's
    // distinct VALUES, domain-bounded.
    // The value histogram drops null cents, so `n` equals the oracle's
    // COUNT(*) only while l_extendedprice is null-free (TPC-H declares
    // it NOT NULL; TestDataContractSpec is the tripwire).
    "q_mad_outlier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val vc = li.filter(col("cents").isNotNull)
        .groupBy(col("l_returnflag"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
      val med = graft.operators.HistogramQuantiles
        .quantiles(vc, "l_returnflag", "cents", "cnt", Seq(("med", 0.5)))
        .select(col("l_returnflag"), col("med"))
      val dvc = vc.join(broadcast(med), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("med"),
          abs(col("cents") - col("med")).as("dev"))
        .agg(sum(col("cnt")).as("cnt"))
      val mad = graft.operators.HistogramQuantiles
        .quantiles(dvc, "l_returnflag", "dev", "cnt", Seq(("mad", 0.5)))
        .select(col("l_returnflag"), col("mad"))
      dvc.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(r6(first(col("med")) / 100).as("median_price"),
          r6(first(col("mad")) / 100).as("mad_price"),
          sum(when(col("dev") > col("mad") * 3, col("cnt"))
            .otherwise(lit(0L))).as("n_outliers"),
          sum(col("cnt")).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Rank-family window functions: percent_rank / cume_dist / ntile over
    // a unique ordering (ties broken by key, so every value is engine-
    // portable). c_mktsegment has 5 values, so the naive
    // `OVER (PARTITION BY c_mktsegment)` is five giant window tasks at
    // 100× — instead the whole family derives in closed form from the
    // (rank, per-key count) pair: the exact rank comes from
    // GlobalRowNumber.withKeyedRowNumber (equi-depth buckets + count-
    // table prefix; the only c_mktsegment-partitioned window runs over
    // the 5·64-row count table), then with a UNIQUE ordering
    // percent_rank = (rn-1)/(n-1), cume_dist = rn/n, and ntile(t) is
    // the SQL-standard fill rule (first n mod t tiles get ⌈n/t⌉ rows).
    // Identical doubles to the built-ins: the same two longs divide in
    // IEEE double on both paths.
    "q_window_ranks" -> ((s, dir) => {
      val d = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val ntot = d.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("__n"))
      graft.operators.GlobalRowNumber
        .withKeyedRowNumber(d, Seq("c_mktsegment"), "c_acctbal", "rn",
          Seq("c_custkey"))
        .join(broadcast(ntot), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          r6(when(col("__n") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast("double") / (col("__n") - 1)))
            .as("pctrank"),
          r6(col("rn").cast("double") / col("__n")).as("cumedist"),
          expr(
            """CAST(CASE WHEN rn <= ((__n div 4) + 1) * (__n % 4)
              |  THEN (rn - 1) div ((__n div 4) + 1) + 1
              |  ELSE (__n % 4) + (rn - ((__n div 4) + 1) * (__n % 4) - 1)
              |    div greatest(__n div 4, 1) + 1 END AS BIGINT)""".stripMargin)
            .as("quartile"))
        .orderBy(col("c_custkey"))
    }),

    // Capstone curation pipeline — the governance stages COMPOSED into
    // one declared plan: quality gate (length + word-count bounds) →
    // language filter → exact dedup keep-first (md5 fingerprint groupBy,
    // shuffles 16-byte hashes, never documents) → mixture rebalance
    // (per-lang downsample to the smallest post-dedup language by
    // portable hash order) → whitespace normalization. Every stage is
    // deterministic, so the five-stage composite still hash-matches the
    // chained-CTE oracle. The rebalance rank uses the same
    // GlobalRowNumber.withKeyedRowNumber decomposition as
    // q_lang_rebalance — a plain per-lang window here would make each
    // surviving language ONE task at 100 TB; the decomposed form's
    // heaviest shuffles are the 16-byte fingerprint exchange and the
    // ~n/64-row per-(lang, bucket) local sorts.
    "q_curation_pipeline" -> ((s, dir) => {
      val quality = t(s, dir, "documents")
        .filter(col("n_chars") >= 150 && col("n_chars") <= 10000 &&
          size(split(col("text"), " ")) >= 20)
        .filter(col("lang").isin("en", "de", "fr", "es"))
      val deduped = quality
        .withColumn("fp", md5(col("text")))
        .withColumn("rn_fp", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn_fp") === 1)
      val m = deduped.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .agg(min(col("cnt")).as("m"))
      val withH = deduped
        .withColumn("h", expr(idHash()))
      graft.operators.GlobalRowNumber
        .withKeyedRowNumber(withH, Seq("lang"), "h", "rn", Seq("doc_id"))
        .crossJoin(broadcast(m))
        .filter(col("rn") <= col("m"))
        .select(col("doc_id"), col("lang"), col("source"),
          trim(regexp_replace(col("text"), " +", " ")).as("text"))
        .orderBy(col("doc_id"))
    }),

    // PageRank (3 fixed iterations, d=0.85) over the undirected bipartite
    // customer–supplier graph induced by lineitem⋈orders. Rank mass lives
    // in BIGINT nano-units and the damping step is (17·s) div 20 — pure
    // integer arithmetic, so the result is exact and partitioning-
    // invariant (float PR would drift per sum order). Each iteration is
    // one hash join + one hash agg on the edge list — the standard
    // distributed PR shape; edges shuffle once per iteration and Spark's
    // ReuseExchange dedupes the shared edge/degree subtrees. At larger
    // graphs the unit scale drops (1e6) so per-node inbound mass — bounded
    // by total mass ≈ |V|·unit — stays far below Long.MAX under the ×17.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
        // CONSTRAINT SATURATION (round 14): each consumer joins this
        // subtree on a different column, and InferFiltersFromConstraints
        // stamps that consumer's isnotnull onto ITS copy — canonically
        // different copies can't share one exchange, so the distinct
        // pipeline re-materialized per consumer context. Declaring the
        // union of every consumer's derived predicate up front makes
        // inference a no-op and every copy byte-identical (vacuously
        // true here: c and p are arithmetic on join keys). Interleaved
        // min-of-10 ×2: 3.21→2.89 / 2.89→2.42 s.
        .filter(col("c").isNotNull && col("p").isNotNull)
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(pairs.select(col("p").as("src"), col("c").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // The adjacency subtree appears once per iteration in the logical
      // plan; AQE's exchange reuse materializes it once physically
      // (measured faster than an explicit localCheckpoint, whose eager
      // re-materialization costs more than the reused exchange, AND than
      // an explicit persist() — a round-7 A/B measured reuse min 2.49s
      // vs persist min 2.84s over 7 cache-cleared runs at sf0.1).
      // PlanSpec pins ReusedExchange in the adaptive executed plan.
      val adj = edges.join(deg.hint("shuffle_hash"), "src")
      var pr = deg.select(col("src").as("node"), lit(1000000000L).as("pr"))
      for (_ <- 1 to 3) {
        pr = adj.join(pr.hint("shuffle_hash"), adj("src") === pr("node"))
          .select(col("dst"), expr("pr div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("cs"))
          .select(col("dst").as("node"),
            expr("150000000L + (17 * cs) div 20").as("pr"))
      }
      pr.select(col("node"), col("pr"), (col("node") % 2).as("ntype"))
        .orderBy(col("pr").desc, col("node"))
        .limit(25)
    })
  )

  val oracle: Map[String, String] = Map(
    "q_dsir_select" -> {
      import graft.functions.TextAnalytics.{tokenHashesDuck, gramHashesDuck}
      s"""WITH t0 AS (
         |  SELECT doc_id, source, ${tokenHashesDuck("text")} AS th FROM documents
         |), fx AS (
         |  SELECT doc_id, source,
         |    unnest(list_concat(th, ${gramHashesDuck("th", 2)})) AS g
         |  FROM t0
         |), f AS (
         |  SELECT doc_id, source, g % 10007 AS b FROM fx
         |), raw AS (
         |  SELECT b, COUNT(*) AS cr FROM f GROUP BY 1
         |), tgt AS (
         |  SELECT b, COUNT(*) AS ct FROM f WHERE source = 'src0' GROUP BY 1
         |), tr AS (SELECT SUM(cr) AS tr FROM raw),
         |tt AS (SELECT SUM(ct) AS tt FROM tgt),
         |lam AS (
         |  SELECT raw.b,
         |    ROUND(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(tt + 10007 AS DOUBLE))
         |        - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 10007 AS DOUBLE)), 6) AS lam
         |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tr CROSS JOIN tt
         |), sc AS (
         |  SELECT doc_id, COUNT(*) AS n_feats,
         |    SUM(CAST(lam AS DECIMAL(18,6))) AS lw
         |  FROM f JOIN lam USING (b) GROUP BY 1
         |), gu AS (
         |  SELECT doc_id, n_feats, lw,
         |    ROUND(-ln(-ln(CAST(doc_id % 1000000007 * 2654435761 % 1000000007 + 1
         |      AS DOUBLE) / 1000000009.0)), 6) AS gumbel
         |  FROM sc
         |), rk AS (
         |  SELECT doc_id, n_feats, lw, gumbel,
         |    row_number() OVER (ORDER BY
         |      CAST(-(lw + CAST(gumbel AS DECIMAL(18,6))) AS DOUBLE), doc_id) AS rn
         |  FROM gu
         |), n AS (SELECT COUNT(*) AS nn FROM gu)
         |SELECT doc_id, n_feats, CAST(lw AS DOUBLE) AS logw, gumbel,
         |  CAST(rn AS BIGINT) AS rn, rn <= nn // 5 AS selected
         |FROM rk CROSS JOIN n ORDER BY doc_id""".stripMargin
    },

    "q_k_anon" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    (n_chars // 100) * 100 AS b_fine,
        |    (n_chars // 500) * 500 AS b_coarse
        |  FROM documents
        |), fine AS (
        |  SELECT lang, source, b_fine, COUNT(*) AS n_fine
        |  FROM d GROUP BY 1, 2, 3
        |), coarse AS (
        |  SELECT lang, source, b_coarse, COUNT(*) AS n_coarse
        |  FROM d GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, lang, source,
        |  CASE WHEN n_fine >= 5 THEN b_fine
        |       WHEN n_coarse >= 5 THEN b_coarse END AS released_bucket,
        |  CASE WHEN n_fine >= 5 THEN 'fine'
        |       WHEN n_coarse >= 5 THEN 'coarse'
        |       ELSE 'suppressed' END AS level,
        |  CASE WHEN n_fine >= 5 THEN n_fine
        |       WHEN n_coarse >= 5 THEN n_coarse END AS released_n
        |FROM d JOIN fine USING (lang, source, b_fine)
        |  JOIN coarse USING (lang, source, b_coarse)
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    doc_id % 1000000007 * 2654435761 % 1000000007 AS hkey
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, hkey,
        |    row_number() OVER (ORDER BY hkey, doc_id) - 1 AS r0
        |  FROM d
        |)
        |SELECT doc_id, hkey,
        |  CAST(r0 % 8 AS INT) AS shard,
        |  CAST(r0 // 8 AS BIGINT) AS pos
        |FROM r ORDER BY shard, pos""".stripMargin,

    "q_pii_scan" ->
      s"""WITH d AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |           || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         |         ELSE '' END AS txt
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$emailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(txt, '$phoneRe')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(txt, '$ipRe')) AS BIGINT) AS n_ip,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
         |      '$phoneRe', '<PHONE>', 'g'),
         |    '$ipRe', '<IP>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_line_filter" ->
      """WITH d AS (
        |  SELECT doc_id, str_split(text, ' the ') AS segs FROM documents
        |), k AS (
        |  SELECT doc_id, segs,
        |    list_filter(segs,
        |      x -> len(str_split(x, ' ')) >= 8 AND contains(x, 'table')) AS kept
        |  FROM d
        |)
        |SELECT doc_id,
        |  CAST(len(segs) AS BIGINT) AS n_seg,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  COALESCE(array_to_string(kept, ' | '), '') AS cleaned
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_boilerplate_strip" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 < 2
        |      THEN ' | subscribe to our newsletter for updates' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' | all rights reserved' ELSE '' END AS text2
        |  FROM documents
        |), segs AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text2, ' | ')))) AS pos,
        |    unnest(string_split(text2, ' | ')) AS seg
        |  FROM d
        |), total AS (
        |  SELECT COUNT(*) AS n_docs FROM d
        |), boiler AS (
        |  SELECT md5(seg) AS fp
        |  FROM segs, total
        |  GROUP BY md5(seg), n_docs
        |  HAVING COUNT(DISTINCT doc_id) * 100 >= n_docs
        |), kept AS (
        |  SELECT doc_id, pos, seg FROM segs
        |  WHERE md5(seg) NOT IN (SELECT fp FROM boiler)
        |), a AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(seg, ' | ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs
        |  FROM segs GROUP BY doc_id
        |)
        |SELECT doc_id, n_segs, n_kept, cleaned
        |FROM a JOIN tot USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, str_split(text, ' ') AS words,
        |    len(str_split(text, ' ')) // 8 AS nc
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id,
        |    unnest(range(0, nc)) AS ord,
        |    unnest(list_transform(range(0, nc),
        |      i -> array_to_string(list_slice(words, i * 8 + 1, i * 8 + 8), ' '))) AS chunk
        |  FROM d
        |), r AS (
        |  SELECT doc_id, ord, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ord) AS rn
        |  FROM ex
        |), a AS (
        |  SELECT doc_id, SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dupes
        |  FROM r GROUP BY doc_id
        |), k AS (
        |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY ord) AS dedup_text
        |  FROM r WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(d.nc AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(a.n_dupes, 0) AS BIGINT) AS n_dupes,
        |  COALESCE(k.dedup_text, '') AS dedup_text
        |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
        |       LEFT JOIN k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_lang_rebalance" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    doc_id % 1000000007 * 2654435761 % 1000000007 AS h
        |  FROM documents
        |), m AS (
        |  SELECT MIN(cnt) AS m FROM (
        |    SELECT COUNT(*) AS cnt FROM d GROUP BY lang
        |  )
        |), r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM d
        |)
        |SELECT doc_id, lang, rn FROM r, m WHERE rn <= m.m
        |ORDER BY doc_id""".stripMargin,

    // Independent derivation: domain straight from `source`, bypassing
    // the synthesized URL / parse_url / regex chain the Spark side uses.
    "q_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, source || '.example.org' AS domain
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, domain,
        |    CAST(row_number() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
        |  FROM d
        |)
        |SELECT doc_id, domain, rnk, rnk <= 15 AS kept
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang
        |), r AS (
        |  SELECT source, lang, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rn
        |  FROM c
        |)
        |SELECT source, lang AS mode_lang, cnt FROM r WHERE rn = 1
        |ORDER BY source""".stripMargin,

    "q_mad_outlier" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem
        |), med AS (
        |  SELECT l_returnflag, quantile_cont(cents, 0.5) AS med
        |  FROM li GROUP BY l_returnflag
        |), dev AS (
        |  SELECT li.l_returnflag AS l_returnflag, abs(cents - med) AS dev, med
        |  FROM li JOIN med ON li.l_returnflag = med.l_returnflag
        |), mad AS (
        |  SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY l_returnflag
        |)
        |SELECT dev.l_returnflag AS l_returnflag,
        |  ROUND(ANY_VALUE(dev.med) / 100, 6) AS median_price,
        |  ROUND(ANY_VALUE(mad.mad) / 100, 6) AS mad_price,
        |  CAST(SUM(CASE WHEN dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  COUNT(*) AS n
        |FROM dev JOIN mad ON dev.l_returnflag = mad.l_returnflag
        |GROUP BY dev.l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_window_ranks" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ROUND(percent_rank() OVER w, 6) AS pctrank,
        |  ROUND(cume_dist() OVER w, 6) AS cumedist,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_curation_pipeline" ->
      """WITH quality AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  WHERE n_chars >= 150 AND n_chars <= 10000
        |    AND len(str_split(text, ' ')) >= 20
        |    AND lang IN ('en', 'de', 'fr', 'es')
        |), fp AS (
        |  SELECT doc_id, lang, source, text,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn_fp
        |  FROM quality
        |), deduped AS (
        |  SELECT doc_id, lang, source, text FROM fp WHERE rn_fp = 1
        |), m AS (
        |  SELECT MIN(cnt) AS m FROM (
        |    SELECT COUNT(*) AS cnt FROM deduped GROUP BY lang
        |  )
        |), r AS (
        |  SELECT doc_id, lang, source, text,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY doc_id % 1000000007 * 2654435761 % 1000000007, doc_id) AS rn
        |  FROM deduped
        |)
        |SELECT doc_id, lang, source,
        |  trim(regexp_replace(text, ' +', ' ', 'g')) AS text
        |FROM r, m WHERE rn <= m.m
        |ORDER BY doc_id""".stripMargin,

    "q_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), e AS (
        |  SELECT c AS src, p AS dst FROM pairs
        |  UNION ALL
        |  SELECT p AS src, c AS dst FROM pairs
        |), d AS (
        |  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
        |), p0 AS (
        |  SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM d
        |), i1 AS (
        |  SELECT e.dst AS node, 150000000 + (17 * SUM(p0.pr // d.deg)) // 20 AS pr
        |  FROM e JOIN p0 ON e.src = p0.node JOIN d ON e.src = d.src
        |  GROUP BY e.dst
        |), i2 AS (
        |  SELECT e.dst AS node, 150000000 + (17 * SUM(i1.pr // d.deg)) // 20 AS pr
        |  FROM e JOIN i1 ON e.src = i1.node JOIN d ON e.src = d.src
        |  GROUP BY e.dst
        |), i3 AS (
        |  SELECT e.dst AS node, 150000000 + (17 * SUM(i2.pr // d.deg)) // 20 AS pr
        |  FROM e JOIN i2 ON e.src = i2.node JOIN d ON e.src = d.src
        |  GROUP BY e.dst
        |)
        |SELECT node, CAST(pr AS BIGINT) AS pr, node % 2 AS ntype FROM i3
        |ORDER BY pr DESC, node LIMIT 25""".stripMargin
  )
}
