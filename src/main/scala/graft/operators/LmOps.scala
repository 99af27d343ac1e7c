package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Language-model corpus statistics (SURVEY.md §2 round-5 batch 3) — the
  * next layer of the LLM-training-data toolkit on top of text_tokens /
  * text_unigram_ppl / text_docfreq.
  *
  * `text_bigram_lm` — bigram counts + conditional probabilities
  * p(w₂|w₁) = c(w₁,w₂)/c(w₁,·), the sufficient statistic for a bigram LM
  * and the standard collocation/phrase-mining signal. Adjacent pairs come
  * from ONE pass over each token array (transform over a slice — no
  * self-join of the token table on position, which would shuffle the
  * token-grain frame twice); the denominator is a window sum over the
  * already-aggregated bigram frame (vocabulary²-bounded, far smaller than
  * the corpus). Integer counts → engine-order-proof; the division happens
  * once at emit.
  *
  * `text_entropy` — per-source Shannon entropy (bits/token) of the unigram
  * distribution: the corpus-diversity/quality signal (layout-duplicated or
  * boilerplate sources score low). Each token type contributes
  * p·log₂p rounded to 9 dp and cast to DECIMAL before the sum, so the
  * vocabulary-sized reduction is associative — parallel partial
  * aggregation cannot perturb the 6-dp result (a raw double Σ over
  * thousands of terms would be summation-order-dependent and
  * engine-divergent).
  *
  * `join_fuzzy` — edit-distance (Levenshtein ≤ 2) self-join over the part
  * vocabulary with BLOCKING: candidate pairs must share a first character
  * (the hash-join key) and differ ≤ 1 in length (pushed residual) before
  * the O(len²) distance runs. That is the scale contract for fuzzy joins —
  * the quadratic matcher runs only inside small blocks, never all-pairs;
  * at 100 TB the block key generalizes to (prefix, length band) or
  * q-gram buckets, same plan shape. levenshtein() is codegen'd in both
  * engines and identically defined (unit ins/del/sub), so the oracle is
  * exact.
  */
object LmOps extends graft.Bank {

  val queries: Map[String, QFn] = Map(
    // one BPE vocabulary-training iteration at corpus scale — the heavy
    // stage of tokenizer induction (the merge LOOP itself is cheap and
    // vocabulary-bounded once pair counts exist): word frequencies first
    // (one corpus-grain scan → vocabulary-bounded shuffle), then adjacent
    // symbol-pair counts WEIGHTED BY WORD FREQUENCY — pair generation is
    // a per-row array expression over the word table, never the corpus,
    // so the token-grain data is touched exactly once no matter how many
    // merge rounds follow. Top-20 merge candidates under the total order
    // (count desc, pair asc) — an engine-deterministic cut.
    // Vocabulary-coverage curve — the tokenizer-design question BPE
    // training answers indirectly: what fraction of corpus tokens does a
    // top-K vocabulary cover (1 − OOV rate) at K = 100 / 1000 / 10000?
    // Token counts are one corpus-grain agg; the rank window runs on the
    // VOCABULARY-sized frame (never the corpus — the bpe_merge_step
    // argument), coverage is conditional integer sums + three divisions.
    // Deterministic (count desc, token asc) rank total order.
    // Sampling-temperature mixture table — the α-weighting every
    // multilingual / multi-source pretraining mix publishes (p_s ∝
    // share_s^α: α=1 is proportional, α→0 uniform; the UNICODE/XLM-R
    // temperature trick that up-weights small sources without flooding
    // the mix): exact integer token counts per source, share^α gridded
    // to 12 dp so the per-α normalizer is an order-free DECIMAL sum,
    // boost = p_sampled/share says how much each source is up/down
    // weighted. One fact pass; the table is |sources|×4 rows at any
    // corpus size, and the normalizer rides a per-α window on that
    // bounded grain.
    "lm_mixture_temperature" -> ((s, dir) => {
      // ts feeds the total AND the per-source rows — pinned so the
      // fact-grain token count runs once
      val ts = persistShared("mixtemp_counts", t(s, dir, "documents")
        .select(col("source"),
          size(filter(split(lower(col("text")), " "), x => x =!= "")).as("ntok"))
        .groupBy(col("source")).agg(sum(col("ntok").cast("long")).as("n_tokens")))
      ts.crossJoin(broadcast(ts.agg(sum(col("n_tokens")).as("nt"))))
        .withColumn("share", col("n_tokens").cast("double") / col("nt"))
        .withColumn("alpha", explode(typedlit(Seq(0.3, 0.5, 0.7, 1.0))))
        .withColumn("w", dec(round(pow(col("share"), col("alpha")), 12), 12))
        .withColumn("zsum", sum(col("w")).over(Window.partitionBy(col("alpha"))))
        .select(col("source"), col("alpha"), col("n_tokens"),
          round(col("share"), 6).as("share"),
          round(col("w").cast("double") / col("zsum").cast("double"), 6)
            .as("p_sampled"),
          round(col("w").cast("double") / col("zsum").cast("double") /
            col("share"), 6).as("boost"))
        .orderBy(col("alpha"), col("source"))
    }),

    // Tokenizer fertility by language — THE tokenizer-equity metric a
    // multilingual corpus owner tracks (a language at 2× fertility pays
    // 2× the context budget per word): pieces per whitespace word and
    // bytes per piece, aggregated per lang from one scan-grain pass
    // (regex piece count mirrors text_bpe_tokens' tokenizer; the corpus
    // is ASCII — verified at all SFs — so length() = byte length on
    // both engines). Pure integer sums until two gridded divisions.
    "lm_fertility" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
            .cast("long").as("n_pieces"),
          size(filter(split(lower(col("text")), " "), x => x =!= ""))
            .cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_bytes"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pieces")).as("pieces"), sum(col("n_words")).as("words"),
          sum(col("n_bytes")).as("bytes"))
        .select(col("lang"), col("n_docs"),
          round(col("pieces").cast("double") / col("words"), 6).as("fertility"),
          round(col("bytes").cast("double") / col("pieces"), 6)
            .as("bytes_per_token"))
        .orderBy(col("lang"))
    }),

    "lm_ngram_coverage" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val ranked = tok.withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("w"))))
      ranked.agg(
          count(lit(1)).as("vocab_size"),
          sum(col("c")).as("total_tokens"),
          sum(when(col("rk") <= 100, col("c")).otherwise(0L)).as("cov100"),
          sum(when(col("rk") <= 1000, col("c")).otherwise(0L)).as("cov1000"),
          sum(when(col("rk") <= 10000, col("c")).otherwise(0L)).as("cov10000"))
        .select(col("vocab_size"), col("total_tokens"),
          round(col("cov100").cast("double") / col("total_tokens"), 6)
            .as("coverage_100"),
          round(col("cov1000").cast("double") / col("total_tokens"), 6)
            .as("coverage_1000"),
          round(col("cov10000").cast("double") / col("total_tokens"), 6)
            .as("coverage_10000"))
    }),

    "bpe_merge_step" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(desc("n"), col("pair"))
        .limit(20)
    }),

    // Jelinek–Mercer interpolated bigram LM scoring (λ = 0.5) — the
    // smoothing rung between text_bigram_lm's raw MLE (zero-probability
    // cliffs) and lm_kneser_ney's discount machinery: p = ½·p(w₂|w₁) +
    // ½·p(w₂), per-doc perplexity under the mixture — the quality/
    // fluency scorer a corpus pipeline runs with a tiny in-domain LM.
    // Counts all come from ONE pinned bigram frame (context and unigram
    // marginals are its two cheap regroupings — consistent support by
    // construction, no edge-token mismatch); each bigram's log term
    // grids to DECIMAL before the per-doc sum (text_unigram_ppl's
    // order-proof discipline); the count joins are vocab-bounded.
    "text_ngram_lm_interp" -> ((s, dir) => {
      val bi = persistShared("lm_interp_bi", t(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .select(col("doc_id"), explode(expr(
          "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= ""))
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
      val u2 = bi.groupBy(col("w2")).agg(count(lit(1)).as("n2"))
      val tot = bi.agg(count(lit(1)).cast("double").as("nt"))
      bi.join(c2, Seq("w1", "w2"))
        .join(c1, Seq("w1"))
        .join(u2, Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("logp", dec(log(
          lit(0.5) * (col("n12").cast("double") / col("n1")) +
            lit(0.5) * (col("n2").cast("double") / col("nt")))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(exp(-sum(col("logp")).cast("double") / count(lit(1))), 6)
            .as("ppl_interp"))
        .orderBy(col("doc_id"))
    }),

    "text_bigram_lm" -> ((s, dir) => {
      val bi = t(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("tk"))
        .select(explode(expr(
          "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      val byFirst = Window.partitionBy(col("w1"))
      c2.withColumn("n_first", sum(col("n")).over(byFirst))
        .filter(col("n") >= 5)
        .select(col("w1"), col("w2"), col("n"),
          round(col("n") / col("n_first"), 6).as("p"))
        .orderBy(desc("n"), col("w1"), col("w2"))
    }),

    // Corpus entropy RATE — the conditional-entropy upgrade of
    // text_entropy's unigram H (how predictable is the next token GIVEN
    // the current one; the single number that separates repetitive
    // template text from genuinely varied prose even when their unigram
    // mixes match): H(Y|X) ≈ H(bigram) − H(unigram), both entropies from
    // distinct-gram frames with each p·ln p term 9-dp-gridded to DECIMAL
    // before the order-independent sum (vocabulary-grain — bounded
    // however large the corpus); the difference is algebra on two
    // decimal-exact one-row frames.
    "text_entropy_rate" -> ((s, dir) => {
      val toks = persistShared("entrate_toks", t(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("tk")))
      val uni = toks.select(explode(col("tk")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val bi = toks.select(explode(expr(
          "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      def h(df: DataFrame): DataFrame = {
        val tot = df.agg(sum(col("n")).as("nt"), count(lit(1)).as("v"))
        val p = col("n").cast("double") / col("nt")
        df.crossJoin(broadcast(tot))
          .agg(max(col("nt")).as("total"), max(col("v")).as("vocab"),
            sum(dec(round(p * log(p), 9), 9)).as("hsum"))
      }
      val h1 = h(uni).select(col("total").as("n_tokens"),
        col("vocab").as("uni_vocab"),
        negate(col("hsum").cast("double")).as("h1d"))
      val h2 = h(bi).select(col("total").as("n_bigrams"),
        col("vocab").as("bi_vocab"),
        negate(col("hsum").cast("double")).as("h2d"))
      h1.crossJoin(broadcast(h2))
        .select(col("n_tokens"), col("uni_vocab"), col("n_bigrams"),
          col("bi_vocab"),
          round(col("h1d"), 6).as("h_unigram"),
          round(col("h2d"), 6).as("h_bigram"),
          round(col("h2d") - col("h1d"), 6).as("cond_entropy"))
    }),

    "text_entropy" -> ((s, dir) => {
      val tokc = t(s, dir, "documents")
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val tot = Window.partitionBy(col("source"))
      tokc.withColumn("p", col("c") / sum(col("c")).over(tot))
        .withColumn("term", dec(round(col("p") * log2(col("p")), 9), 9))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          round(-sum(col("term")).cast("double"), 6).as("entropy"))
        .orderBy(col("source"))
    }),

    // context-window packing: assign documents to fixed-capacity training
    // sequences (2048 tokens) per source shard. Longest-first round-robin
    // is the deterministic, fully-declarative stand-in for greedy first-fit
    // (which is inherently sequential): one window rank per source + a
    // modulo. Packing WITHIN source shards is what makes this scale — the
    // rank window parallelizes across shards, and a 100 TB corpus packs
    // each shard independently; a single global rank would serialize.
    "pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast("bigint").as("n_tokens"))
      val bySrc = Window.partitionBy(col("source"))
      val rank = Window.partitionBy(col("source"))
        .orderBy(desc("n_tokens"), col("doc_id"))
      d.withColumn("n_bins",
          ceil(sum(col("n_tokens")).over(bySrc) / lit(2048.0)).cast("int"))
        .withColumn("bin",
          ((row_number().over(rank) - 1) % col("n_bins")).cast("int"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .select(col("source"), col("bin"), col("n_docs"), col("tokens"),
          round(col("tokens") / lit(2048.0), 6).as("fill_ratio"))
        .orderBy(col("source"), col("bin"))
    }),

    // boilerplate span mining: 8-token shingles repeated across ≥2 distinct
    // documents of the same source — the repeated-header/footer detector
    // every corpus-curation pipeline runs before near-dup scoring. Shingles
    // are generated map-side by a transform-over-sequence lambda (one pass
    // per token array, no positional self-join), and the aggregation is
    // keyed by (source, shingle) so the shuffle carries shingle counts, not
    // documents. At 100 TB the string shingle becomes a 64-bit hash (same
    // plan, smaller shuffle) — the string form here keeps the DuckDB oracle
    // byte-exact.
    "text_boilerplate" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))"))
          .as("gram"))
      grams.groupBy(col("source"), col("gram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), desc("n_occur"), col("source"), col("gram"))
    }),

    // the APPLY step to text_boilerplate's detect: rewrite every document
    // with the mined spans removed (the RefinedWeb/CCNet line-dedup move —
    // repeated headers/footers are cut from EVERY doc, including the first
    // occurrence). Work stays keyed at gram grain: the (source, gram) join
    // marks hit start positions, a per-doc collect_set carries them home,
    // and the actual token drop is a map-side array lambda — the document
    // text itself never shuffles, only (doc_id, start) pairs do. Output is
    // a compact per-doc accounting (token counts before/after + a hash of
    // the scrubbed text) so the full rewrite is oracle-checkable.
    "text_boilerplate_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(lower(col("text")), " ").as("tk"))
      // the 8-gram stream feeds BOTH the boilerplate-frequency agg and the
      // per-doc hit collection — pinned so the heaviest subtree (scan +
      // tokenize + gram explode) runs once, not twice (r9 lint class)
      val grams = persistShared("boilerplate_scrub_grams", docs
        .filter(size(col("tk")) >= 8)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 7), i -> " +
            "named_struct('i', i, 'gram', array_join(slice(tk, i, 8), ' ')))")).as("g"))
        .select(col("source"), col("doc_id"), col("g.i").as("i"), col("g.gram").as("gram")))
      val boiler = grams.groupBy(col("source"), col("gram"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("source"), col("gram"))
      val hits = grams.join(boiler, Seq("source", "gram"))
        .groupBy(col("doc_id")).agg(collect_set(col("i")).as("starts"))
      docs.join(hits, Seq("doc_id"), "left")
        .withColumn("kept", expr(
          """CASE WHEN starts IS NULL THEN tk ELSE
               transform(
                 filter(transform(tk, (t, p) -> named_struct('t', t, 'p', p + 1)),
                        x -> NOT exists(starts, s -> s <= x.p AND x.p <= s + 7)),
                 x -> x.t)
             END"""))
        .select(col("doc_id"), size(col("tk")).as("n_toks"),
          size(col("kept")).as("n_kept"),
          sha2(array_join(col("kept"), " "), 256).as("clean_hash"))
        .orderBy(col("doc_id"))
    }),

    "join_fuzzy" -> ((s, dir) => {
      val toks = t(s, dir, "part")
        .select(explode(split(lower(col("p_name")), " ")).as("tok"))
        .filter(length(col("tok")) >= 3).distinct()
      toks.as("a").join(toks.as("b"),
          substring(col("a.tok"), 1, 1) === substring(col("b.tok"), 1, 1) &&
            col("a.tok") < col("b.tok") &&
            abs(length(col("a.tok")) - length(col("b.tok"))) <= 1 &&
            levenshtein(col("a.tok"), col("b.tok")) <= 2)
        .select(col("a.tok").as("t1"), col("b.tok").as("t2"),
          levenshtein(col("a.tok"), col("b.tok")).as("dist"))
        .orderBy(col("t1"), col("t2"))
    }),

    // Interpolated Kneser–Ney bigram probabilities (d = 3/4) — the
    // smoothing that made n-gram LMs competitive and still the baseline
    // perplexity reference: discount every observed bigram and give the
    // mass back through the CONTINUATION distribution (how many contexts
    // a word follows, not how often). All four count streams (bigram c,
    // context totals c(w1·), left fan-out N1+(w1·), right fan-in
    // N1+(·w2)) fold from ONE bigram-grain aggregation; d = 3/4 keeps
    // the algebra rational, so the score folds to the single integer
    // expression ((4c−3)·B + 3·N1L·N1R) / (4·c(w1·)·B) — one double
    // division at the end, no float accumulates. Joins are
    // vocabulary-grain (broadcast-sized even at 100 TB; the corpus is
    // touched once for the bigram counts). Fixture magnitudes sit ~10
    // orders inside int64; web-scale counts move the products to
    // DECIMAL(38) unchanged.
    "lm_kneser_ney" -> ((s, dir) => {
      // the bigram-type frame feeds FOUR sinks (cw, cr, b, the final
      // join) — pinned so the corpus tokenize+agg runs once, not four
      // times (the re-executed-subtree lint class; vocabulary-grain tiny)
      val c2 = persistShared("lm_kn_c2", t(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("tk"))
        .select(explode(expr(
          "transform(slice(tk, 1, size(tk) - 1), (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"))
          .as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n")))
      val cw = c2.groupBy(col("w1"))
        .agg(sum(col("n")).as("cw1"), count(lit(1)).as("n1l"))
      val cr = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
      val b = c2.agg(count(lit(1)).as("bt"))
      c2.join(broadcast(cw), Seq("w1")).join(broadcast(cr), Seq("w2"))
        .join(broadcast(b))
        .filter(col("n") >= 5)
        .select(col("w1"), col("w2"), col("n"),
          round(((lit(4) * col("n") - 3) * col("bt") +
            lit(3) * col("n1l") * col("n1r")).cast("double") /
            (lit(4) * col("cw1") * col("bt")), 6).as("pkn"))
        .orderBy(col("pkn").desc, col("w1"), col("w2"))
        .limit(20)
    }))

  val oracles: Map[String, String] = Map(
    "lm_mixture_temperature" ->
      """WITH tc AS (
           SELECT source,
                  CAST(sum(len(list_filter(string_split(lower(text), ' '),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM tc),
         base AS (SELECT source, n_tokens,
                         CAST(n_tokens AS DOUBLE) / nt AS share
                  FROM tc CROSS JOIN tot),
         al AS (SELECT unnest([CAST(0.3 AS DOUBLE), CAST(0.5 AS DOUBLE),
                               CAST(0.7 AS DOUBLE), CAST(1.0 AS DOUBLE)]) AS alpha),
         w AS (SELECT source, n_tokens, share, alpha,
                      CAST(round(pow(share, alpha), 12) AS DECIMAL(18,12)) AS w
               FROM base CROSS JOIN al),
         z AS (SELECT alpha, sum(w) AS zsum FROM w GROUP BY 1)
         SELECT w.source, w.alpha, w.n_tokens, round(share, 6) AS share,
                round(CAST(w AS DOUBLE) / CAST(zsum AS DOUBLE), 6) AS p_sampled,
                round(CAST(w AS DOUBLE) / CAST(zsum AS DOUBLE) / share, 6) AS boost
         FROM w JOIN z USING (alpha) ORDER BY alpha, source""",
    "lm_fertility" ->
      """WITH d AS (
           SELECT lang,
                  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                    AS n_pieces,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x <> '')) AS BIGINT) AS n_words,
                  CAST(strlen(text) AS BIGINT) AS n_bytes
           FROM documents)
         SELECT lang, count(1) AS n_docs,
                round(CAST(sum(n_pieces) AS DOUBLE) / sum(n_words), 6)
                  AS fertility,
                round(CAST(sum(n_bytes) AS DOUBLE) / sum(n_pieces), 6)
                  AS bytes_per_token
         FROM d GROUP BY lang ORDER BY lang""",
    "lm_ngram_coverage" ->
      """WITH tok AS (
           SELECT w, count(1) AS c FROM (
             SELECT unnest(list_filter(string_split(lower(text), ' '),
                      x -> x <> '')) AS w
             FROM documents) GROUP BY w),
         r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM tok)
         SELECT count(1) AS vocab_size, CAST(sum(c) AS BIGINT) AS total_tokens,
                round(CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS DOUBLE)
                  / sum(c), 6) AS coverage_100,
                round(CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS DOUBLE)
                  / sum(c), 6) AS coverage_1000,
                round(CAST(sum(CASE WHEN rk <= 10000 THEN c ELSE 0 END) AS DOUBLE)
                  / sum(c), 6) AS coverage_10000
         FROM r""",
    "bpe_merge_step" ->
      """WITH words AS (
           SELECT w, count(1) AS wc FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE length(w) >= 2 GROUP BY w)
         SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM (
           SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair, wc
           FROM words)
         GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    "text_ngram_lm_interp" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
         tok AS (SELECT doc_id, unnest(tk) AS w, unnest(range(1, len(tk) + 1)) AS ord FROM tk),
         bi0 AS (SELECT doc_id, w AS w1,
                        lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
                 FROM tok),
         bf AS (SELECT doc_id, w1, w2 FROM bi0
                WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''),
         c2 AS (SELECT w1, w2, count(1) AS n12 FROM bf GROUP BY 1, 2),
         c1 AS (SELECT w1, count(1) AS n1 FROM bf GROUP BY 1),
         u2 AS (SELECT w2, count(1) AS n2 FROM bf GROUP BY 1),
         nt AS (SELECT CAST(count(1) AS DOUBLE) AS nt FROM bf)
         SELECT doc_id, count(1) AS n_bigrams,
                round(exp(-(CAST(sum(CAST(ln(
                    0.5 * (CAST(n12 AS DOUBLE) / n1) + 0.5 * (CAST(n2 AS DOUBLE) / nt))
                  AS DECIMAL(18,6))) AS DOUBLE)) / count(1)), 6) AS ppl_interp
         FROM bf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN u2 USING (w2)
         CROSS JOIN nt
         GROUP BY doc_id ORDER BY doc_id""",
    "text_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
         tok AS (SELECT doc_id, unnest(tk) AS w, unnest(range(1, len(tk) + 1)) AS ord FROM tk),
         bi AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2 FROM tok),
         c2 AS (SELECT w1, w2, count(1) AS n FROM bi
                WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> '' GROUP BY w1, w2)
         SELECT w1, w2, n, round(n / sum(n) OVER (PARTITION BY w1), 6) AS p
         FROM c2 QUALIFY n >= 5 ORDER BY n DESC, w1, w2""",
    "text_entropy_rate" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
         tok AS (SELECT doc_id, unnest(tk) AS w,
                        unnest(range(1, len(tk) + 1)) AS ord FROM tk),
         uni AS (SELECT w, count(1) AS n FROM tok WHERE w <> '' GROUP BY w),
         bi0 AS (SELECT w AS w1,
                        lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
                 FROM tok),
         bi AS (SELECT w1, w2, count(1) AS n FROM bi0
                WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
                GROUP BY w1, w2),
         t1 AS (SELECT CAST(sum(n) AS BIGINT) AS nt, count(1) AS v FROM uni),
         t2 AS (SELECT CAST(sum(n) AS BIGINT) AS nt, count(1) AS v FROM bi),
         h1 AS (
           SELECT max(t1.nt) AS n_tokens, max(t1.v) AS uni_vocab,
                  -CAST(sum(CAST(round((CAST(n AS DOUBLE) / t1.nt)
                    * ln(CAST(n AS DOUBLE) / t1.nt), 9) AS DECIMAL(18,9)))
                    AS DOUBLE) AS h1d
           FROM uni, t1),
         h2 AS (
           SELECT max(t2.nt) AS n_bigrams, max(t2.v) AS bi_vocab,
                  -CAST(sum(CAST(round((CAST(n AS DOUBLE) / t2.nt)
                    * ln(CAST(n AS DOUBLE) / t2.nt), 9) AS DECIMAL(18,9)))
                    AS DOUBLE) AS h2d
           FROM bi, t2)
         SELECT n_tokens, uni_vocab, n_bigrams, bi_vocab,
                round(h1d, 6) AS h_unigram,
                round(h2d, 6) AS h_bigram,
                round(h2d - h1d, 6) AS cond_entropy
         FROM h1, h2""",
    "text_entropy" ->
      """WITH tokc AS (
           SELECT source, w, count(1) AS c FROM (
             SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents)
           WHERE w <> '' GROUP BY source, w),
         terms AS (
           SELECT source, c,
                  CAST(round((c / sum(c) OVER (PARTITION BY source))
                       * log2(c / sum(c) OVER (PARTITION BY source)), 9) AS DECIMAL(18,9)) AS term
           FROM tokc)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(1) AS n_distinct,
                round(-CAST(sum(term) AS DOUBLE), 6) AS entropy
         FROM terms GROUP BY source ORDER BY source""",
    "pack_sequences" ->
      """WITH d AS (
           SELECT source, doc_id,
                  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         a AS (
           SELECT source, doc_id, n_tokens,
                  CAST(ceil(sum(n_tokens) OVER (PARTITION BY source) / 2048.0) AS INT) AS n_bins,
                  CAST((row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) - 1)
                       % CAST(ceil(sum(n_tokens) OVER (PARTITION BY source) / 2048.0) AS INT) AS INT) AS bin
           FROM d)
         SELECT source, bin, count(1) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
                round(CAST(sum(n_tokens) AS BIGINT) / 2048.0, 6) AS fill_ratio
         FROM a GROUP BY source, bin ORDER BY source, bin""",
    "text_boilerplate" ->
      """WITH tk AS (SELECT source, doc_id, string_split(lower(text), ' ') AS tk FROM documents),
         g AS (
           SELECT source, doc_id,
                  unnest(list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))) AS gram
           FROM tk WHERE len(tk) >= 8)
         SELECT source, gram, count(DISTINCT doc_id) AS n_docs, count(1) AS n_occur
         FROM g GROUP BY source, gram HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occur DESC, source, gram""",
    "text_boilerplate_scrub" ->
      """WITH tk AS (SELECT doc_id, source, string_split(lower(text), ' ') AS tk FROM documents),
         g AS (
           SELECT source, doc_id, unnest(range(1, len(tk) - 6)) AS i, tk
           FROM tk WHERE len(tk) >= 8),
         grams AS (
           SELECT source, doc_id, i, array_to_string(tk[i:i+7], ' ') AS gram FROM g),
         boiler AS (
           SELECT source, gram FROM grams
           GROUP BY source, gram HAVING count(DISTINCT doc_id) >= 2),
         hits AS (
           SELECT doc_id, list(DISTINCT i) AS starts
           FROM grams JOIN boiler USING (source, gram) GROUP BY doc_id),
         clean AS (
           SELECT t.doc_id, len(t.tk) AS n_toks,
             CASE WHEN h.starts IS NULL THEN t.tk ELSE
               list_filter(
                 list_transform(range(1, len(t.tk) + 1), p ->
                   CASE WHEN len(list_filter(h.starts, s -> s <= p AND p <= s + 7)) = 0
                        THEN t.tk[CAST(p AS INTEGER)] END),
                 x -> x IS NOT NULL)
             END AS kept
           FROM tk t LEFT JOIN hits h ON t.doc_id = h.doc_id)
         SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks,
                CAST(len(kept) AS INTEGER) AS n_kept,
                sha256(coalesce(array_to_string(kept, ' '), '')) AS clean_hash
         FROM clean ORDER BY doc_id""",
    "join_fuzzy" ->
      """WITH toks AS (
           SELECT DISTINCT unnest(string_split(lower(p_name), ' ')) AS tok FROM part),
         f AS (SELECT tok FROM toks WHERE length(tok) >= 3)
         SELECT a.tok AS t1, b.tok AS t2, levenshtein(a.tok, b.tok) AS dist
         FROM f a JOIN f b
           ON substr(a.tok, 1, 1) = substr(b.tok, 1, 1) AND a.tok < b.tok
          AND abs(length(a.tok) - length(b.tok)) <= 1
          AND levenshtein(a.tok, b.tok) <= 2
         ORDER BY t1, t2""",
    "lm_kneser_ney" ->
      """WITH tk AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
         bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
                FROM tk, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)
                WHERE tk[i] <> '' AND tk[i+1] <> ''),
         c2 AS (SELECT w1, w2, CAST(count(1) AS BIGINT) AS n FROM bi GROUP BY 1, 2),
         cw AS (SELECT w1, CAST(sum(n) AS BIGINT) AS cw1,
                       CAST(count(1) AS BIGINT) AS n1l FROM c2 GROUP BY 1),
         cr AS (SELECT w2, CAST(count(1) AS BIGINT) AS n1r FROM c2 GROUP BY 1),
         b AS (SELECT CAST(count(1) AS BIGINT) AS bt FROM c2)
         SELECT w1, w2, n,
                round(CAST((4 * n - 3) * bt + 3 * n1l * n1r AS DOUBLE) /
                      (4 * cw1 * bt), 6) AS pkn
         FROM c2 JOIN cw USING (w1) JOIN cr USING (w2) CROSS JOIN b
         WHERE n >= 5
         ORDER BY pkn DESC, w1, w2 LIMIT 20"""
  )
}
