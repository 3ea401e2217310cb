"""Statistical language-model operators over the documents corpus.

The reference stops at record parsing (lib/batchProcessing.js is a
row-at-a-time ETL loop); these are the corpus-statistics shapes an LLM
training-data pipeline needs on top: score held-out text under a bigram LM
trained on the corpus itself (the classic perplexity-filter for data
quality), and detect distribution drift between corpus slices.

Exactness strategy — NO floating-point logs anywhere. Log-probabilities are
transcendental and libm implementations differ between the JVM and DuckDB,
so a log-space perplexity could never hash-match. Instead both operators
work in *quantized probability space*: every probability is scaled to an
integer via ``(SCALE * num) div den`` — integer multiply + integer floor
division, bit-identical in any engine — and summed as BIGINT. The metric is
defined BY the quantization (documented per operator), not approximated by
it, so the oracle comparison is exact.

Scale notes (100 TB):
  - LM training is two hash aggregations over the token stream (unigrams,
    bigrams) — the same shuffle shape as a word count; partial aggregation
    is map-side. Scoring is two shuffle joins keyed by token/bigram — both
    sides huge, both hash-partitioned, no driver state. The model tables
    (vocab-sized, Zipf-bounded) are orders of magnitude smaller than the
    corpus; for production they'd be computed once and reused across
    scoring runs.
  - Drift builds a languages x vocabulary grid — |langs| * |V| rows, tiny
    relative to the corpus (the token stream is what's 100 TB, the vocab is
    Zipf-bounded) — then one hash join back to the per-slice counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

# Quantization scales. Chosen so that SCALE * max_count stays far below
# 2^63: corpus token counts at 100 TB are ~1e13; 1e6 * 1e13 = 1e19 is too
# close, so production would drop to 1e4 — at test SFs counts are <1e7 and
# 1e6 keeps 6 significant digits of probability.
_LM_SCALE = 1_000_000
_TVD_SCALE = 1_000_000_000


@query(
    "text_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    train_uni AS (
      SELECT w, COUNT(*) AS cnt_u FROM (
        SELECT UNNEST(words) AS w FROM toks WHERE doc_id % 10 < 8
      ) GROUP BY 1
    ),
    vocab AS (SELECT COUNT(*) AS v FROM train_uni),
    train_bi AS (
      SELECT w1, w2, COUNT(*) AS cnt_b FROM (
        SELECT words[i+1] AS w1, words[i+2] AS w2
        FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
        WHERE doc_id % 10 < 8
      ) GROUP BY 1, 2
    ),
    heldout_bi AS (
      SELECT doc_id, words[i+1] AS w1, words[i+2] AS w2
      FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
      WHERE doc_id % 10 >= 8
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN b.cnt_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen,
           CAST(SUM(({_LM_SCALE} * (COALESCE(b.cnt_b, 0) + 1))
                    // (COALESCE(u.cnt_u, 0) + v.v)) AS BIGINT)
             AS score_scaled
    FROM heldout_bi h
    LEFT JOIN train_bi b ON h.w1 = b.w1 AND h.w2 = b.w2
    LEFT JOIN train_uni u ON h.w1 = u.w
    CROSS JOIN vocab v
    GROUP BY 1
    ORDER BY 1
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram LM scoring — the perplexity-style quality filter.

    Train an add-one-smoothed bigram model on the 80% split
    (``doc_id % 10 < 8``, the same hash-stable rule as
    ``docs_train_val_test_split``), then score every held-out document:
    for each adjacent pair (w1, w2) the quantized smoothed probability

        p_scaled = (SCALE * (B(w1,w2) + 1)) div (U(w1) + V)

    with B/U = train bigram/unigram counts (0 when unseen) and V = train
    vocabulary size. Per doc: bigram count, unseen-bigram count, and the
    summed score (higher = more in-distribution). The quantization IS the
    metric definition, so Spark and DuckDB agree bit-for-bit — no float
    logs (see module docstring).

    Plan: two hash aggs build the model (word-count shuffle shape), then
    two hash joins score the held-out stream. Nothing driver-side; V is
    the only scalar and rides a broadcast one-row frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2), "
                "i -> struct(words[i] AS w1, words[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")

    train_doc = F.col("doc_id") % 10 < 8
    train_uni = (
        toks.filter(train_doc)
        .select(F.explode("words").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt_u"))
    )
    vocab = train_uni.agg(F.count(F.lit(1)).alias("v"))
    train_bi = (
        bigrams.filter(train_doc)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    heldout = bigrams.filter(~train_doc)

    scored = (
        heldout.join(train_bi, ["w1", "w2"], "left")
        .join(train_uni, heldout["w1"] == train_uni["w"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.col("cnt_b").isNull().cast("bigint").alias("unseen"),
            F.expr(
                f"({_LM_SCALE}L * (coalesce(cnt_b, 0L) + 1L))"
                " div (coalesce(cnt_u, 0L) + v)"
            ).alias("p_scaled"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("unseen").alias("n_unseen"),
            F.sum("p_scaled").alias("score_scaled"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_lang_tvd_drift",
    oracle=f"""
    WITH tok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    corpus_w AS (SELECT w, COUNT(*) AS n_w FROM tok GROUP BY 1),
    corpus_n AS (SELECT COUNT(*) AS n FROM tok),
    lang_w AS (SELECT lang, w, COUNT(*) AS n_lw FROM tok GROUP BY 1, 2),
    lang_n AS (SELECT lang, COUNT(*) AS n_l FROM tok GROUP BY 1),
    grid AS (
      SELECT l.lang, c.w, c.n_w, COALESCE(lw.n_lw, 0) AS n_lw
      FROM lang_n l
      CROSS JOIN corpus_w c
      LEFT JOIN lang_w lw ON lw.lang = l.lang AND lw.w = c.w
    )
    SELECT g.lang,
           ln.n_l AS n_tokens,
           CAST(SUM(ABS(({_TVD_SCALE} * g.n_lw) // ln.n_l
                        - ({_TVD_SCALE} * g.n_w) // cn.n)) AS BIGINT)
             AS tvd_scaled_x2
    FROM grid g
    JOIN lang_n ln ON ln.lang = g.lang
    CROSS JOIN corpus_n cn
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def docs_lang_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift per corpus slice: for every language, the
    quantized total-variation distance between the slice's unigram
    distribution and the whole corpus's —

        tvd_x2 = SUM_w | (S*n_lw) div n_l  -  (S*n_w) div n |

    (2x the usual TVD since we sum over all words without halving; the
    floor-quantized probabilities ARE the metric, making it engine-exact).
    This is the mixture-monitoring primitive: a slice (language, source,
    crawl snapshot) whose token distribution drifts from the corpus gets
    flagged before it poisons a training mix.

    Plan: one token-stream shuffle each for corpus and per-slice counts;
    the comparison grid is |langs| x |vocab| (Zipf-bounded, tiny vs the
    token stream) built by crossing the slice list with the vocab, then a
    single hash join pulls in the per-slice counts. No Python, no driver
    loops; the corpus total rides a broadcast one-row frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
    corpus_w = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    corpus_n = tok.agg(F.count(F.lit(1)).alias("n"))
    lang_w = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n_lw"))
    lang_n = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))

    grid = (
        # lang_n is |languages| rows (5 here) — pin it as the broadcast
        # build side rather than trusting AQE to discover it at runtime.
        # corpus_w (the vocab) is the streamed side; at true 100 TB Heaps'
        # law grows |vocab| ~ O(N^0.5) so the grid needs a top-k vocabulary
        # cut (e.g. rank n_w desc, keep top 1-10M, bucket the tail into an
        # OTHER row) — the quantized-TVD metric stays exact over the kept
        # mass; SCALE.md carries the sizing note.
        F.broadcast(lang_n).crossJoin(corpus_w)
        .join(lang_w, ["lang", "w"], "left")
        .withColumn("n_lw", F.coalesce("n_lw", F.lit(0)))
        .crossJoin(F.broadcast(corpus_n))
    )
    term = F.expr(
        f"abs(({_TVD_SCALE}L * n_lw) div n_l - ({_TVD_SCALE}L * n_w) div n)"
    )
    return (
        grid.groupBy("lang", F.col("n_l").alias("n_tokens"))
        .agg(F.sum(term).alias("tvd_scaled_x2"))
        .orderBy("lang")
    )


# Fixed BPE merge table (priority-ordered). Applied to the space-separated
# character form of each word; each rule rewrites every occurrence. The
# token count after all rules IS the metric definition — deterministic and
# engine-identical — matching exact greedy-BPE whenever rule outputs don't
# re-overlap (true for this table over [a-z] words).
_BPE_MERGES = (
    ("t h", "th"),
    ("a n", "an"),
    ("i n", "in"),
    ("e r", "er"),
    ("r e", "re"),
    ("o n", "on"),
    ("s t", "st"),
    ("th e", "the"),
)


def _bpe_sql(var: str, *, duck: bool) -> str:
    """Expression applying the merge table to one word bound to ``var``."""
    spaced = (
        f"trim(regexp_replace({var}, '(.)', '\\1 ', 'g'))"
        if duck
        else f"trim(regexp_replace({var}, '(.)', '$1 '))"
    )
    expr = spaced
    for pat, rep in _BPE_MERGES:
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


@query(
    "text_bpe_apply_fertility",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    toks AS (
      SELECT doc_id, w,
             len(string_split({_bpe_sql('w', duck=True)}, ' ')) AS n_tok
      FROM words WHERE w <> ''
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(n_tok)) // COUNT(*) AS BIGINT)
             AS fertility_ppm
    FROM toks GROUP BY doc_id
    """,
)
def text_bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table application — the tokenizer-side cost model of a
    training-data pipeline: each word is exploded to characters and an
    8-rule priority-ordered merge table is applied (th/an/in/er/re/on/st
    /the); output is per-doc word count, BPE token count, and fertility
    (tokens per word, ppm) — the metric that decides how much compute a
    corpus slice actually costs and flags languages/domains a tokenizer
    serves badly. The ordered-rewrite semantics IS the metric definition
    (identical in both engines; matches exact greedy BPE when rule
    outputs don't re-overlap, as here).

    Scale: pure per-row JVM string rewriting inside one projection —
    no explode-shuffle (the word loop runs in a higher-order transform);
    one map-side-combined aggregate per doc. A real 50k-merge vocab
    would move the table into a broadcast map + Arrow UDF loop, same
    fan-out shape as ``multimodal_byte_features``.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok_per_word = (
        f"transform(filter(split(text, ' '), w -> w <> ''), "
        f"w -> size(split({_bpe_sql('w', duck=False)}, ' ')))"
    )
    return (
        docs.select(
            "doc_id",
            F.expr(f"{tok_per_word}").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").alias("n_words"),
            F.expr("aggregate(toks, 0L, (a, x) -> a + x)").alias("n_tokens"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.expr("(1000000 * n_tokens) div n_words").alias("fertility_ppm"),
        )
    )


@query(
    "docs_bigram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    train_bi AS (
      SELECT DISTINCT words[i+1] || ' ' || words[i+2] AS bg
      FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
      WHERE doc_id % 10 < 8
    ),
    val_bi AS (
      SELECT DISTINCT doc_id, words[i+1] || ' ' || words[i+2] AS bg
      FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
      WHERE doc_id % 10 >= 8
    )
    SELECT v.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unseen,
           CAST((1000000 * SUM(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END))
             // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM val_bi v LEFT JOIN train_bi t ON v.bg = t.bg
    GROUP BY v.doc_id
    """,
)
def docs_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram NOVELTY of held-out documents vs the training split: the
    fraction (ppm) of each val doc's distinct word bigrams never seen in
    training — the inverse of contamination checking
    (``text_contamination_ngrams`` asks "did eval leak INTO train"; this
    asks "how much of this doc is genuinely new"), and the cheap proxy
    for "will this slice teach the model anything". Same hash-stable
    doc_id % 10 split as ``text_bigram_lm_score``.

    Scale: two distinct-bigram shuffles (word-count shape) + one hash
    join on the bigram key; the train side is vocabulary²-bounded in
    principle but Zipf-sparse in practice. At 100 TB the train set
    becomes a bloom filter broadcast to the scorers — same relation,
    probabilistic membership.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    ).filter(F.size("words") >= 2)
    bigrams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(words) - 2), "
                "i -> concat(words[i], ' ', words[i + 1])))"
            )
        ).alias("bg"),
    )
    train = (
        bigrams(docs.filter(F.col("doc_id") % 10 < 8))
        .select("bg")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    val = bigrams(docs.filter(F.col("doc_id") % 10 >= 8))
    joined = val.join(train, "bg", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        F.expr(
            "(1000000 * sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END))"
            " div count(1)"
        ).alias("novelty_ppm"),
    )


@query(
    "text_bigram_lm_kneser_ney",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    train_bi AS (
      SELECT w1, w2, COUNT(*) AS cb FROM (
        SELECT words[i+1] AS w1, words[i+2] AS w2
        FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
        WHERE doc_id % 10 < 8
      ) GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu1,
             CAST(COUNT(*) AS BIGINT) AS n1post
      FROM train_bi GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pre FROM train_bi GROUP BY w2
    ),
    types AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM train_bi),
    heldout_bi AS (
      SELECT doc_id, words[i+1] AS w1, words[i+2] AS w2
      FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
      WHERE doc_id % 10 >= 8
    ),
    scored AS (
      SELECT h.doc_id,
             CASE
               WHEN x.cu1 IS NULL THEN
                 ({_LM_SCALE} * COALESCE(n.n1pre, 0)) // t.nt
               ELSE
                 ({_LM_SCALE} * GREATEST(4 * COALESCE(b.cb, 0) - 3, 0))
                   // (4 * x.cu1)
                 + (3 * x.n1post
                    * (({_LM_SCALE} * COALESCE(n.n1pre, 0)) // t.nt))
                   // (4 * x.cu1)
             END AS p_q,
             CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END AS unseen
      FROM heldout_bi h
      LEFT JOIN train_bi b ON b.w1 = h.w1 AND b.w2 = h.w2
      LEFT JOIN ctx x ON x.w1 = h.w1
      LEFT JOIN cont n ON n.w2 = h.w2
      CROSS JOIN types t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(unseen) AS BIGINT) AS n_unseen,
           CAST(SUM(p_q) AS BIGINT) AS score_scaled
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def text_bigram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the industry-standard LM
    smoothing (what KenLM computes for data-quality perplexity filters),
    in exact quantized-probability space. With discount D = 3/4 kept as a
    rational (multiply through by 4 — no floats):

        P_KN(w2|w1) = max(4·c(w1w2) − 3, 0) / (4·c(w1·))
                      + 3·N1+(w1,·)/(4·c(w1·)) · P_cont(w2)
        P_cont(w2)  = N1+(·,w2) / |bigram types|

    quantized as ``(SCALE·num) div den`` at the two documented points
    (continuation first, then the lambda product) — the floor-division
    order IS the metric definition, identical in both engines. Contexts
    unseen in training back off to the bare continuation probability —
    the KN insight that "Francisco" is common but only ever follows
    "San" (high frequency, low continuation) and should score LOW in
    novel contexts, which add-one smoothing (the ``text_bigram_lm_score``
    baseline) gets exactly backwards.

    Plan: the model is THREE reuses of one bigram-count aggregate
    (context totals, continuation fan-in, type count) — word-count
    shuffle shapes over the Zipf-bounded type table; scoring is the same
    two hash joins as the baseline plus one more vocab-sized join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2), "
                "i -> struct(words[i] AS w1, words[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")

    # persist (r16): the model table feeds FOUR plan branches (the scoring
    # join, ctx, cont, types) — without the cache each branch re-ran the
    # full-corpus bigram explode + filter + count aggregate (the plan
    # carried the documents scan once per branch); runtime ReusedExchange
    # never bridges differently-aggregated consumers. Zipf-bounded
    # vocabulary-sized frame — the cheapest point to pin the model.
    train_bi = (
        bigrams.filter(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .persist()
    )
    ctx = train_bi.groupBy("w1").agg(
        F.sum("cb").alias("cu1"), F.count(F.lit(1)).alias("n1post")
    )
    cont = train_bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1pre"))
    types = train_bi.agg(F.count(F.lit(1)).alias("nt"))

    heldout = bigrams.filter(F.col("doc_id") % 10 >= 8)
    scored = (
        heldout.join(train_bi.withColumnRenamed("cb", "cb_t"), ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
        .select(
            "doc_id",
            F.expr(
                f"""CASE
                  WHEN cu1 IS NULL THEN
                    ({_LM_SCALE} * COALESCE(n1pre, 0)) div nt
                  ELSE
                    ({_LM_SCALE} * GREATEST(4 * COALESCE(cb_t, 0) - 3, 0))
                      div (4 * cu1)
                    + (3 * n1post
                       * (({_LM_SCALE} * COALESCE(n1pre, 0)) div nt))
                      div (4 * cu1)
                END"""
            ).alias("p_q"),
            F.when(F.col("cb_t").isNull(), 1).otherwise(0).alias("unseen"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("unseen").alias("n_unseen"),
            F.sum("p_q").alias("score_scaled"),
        )
        .orderBy("doc_id")
    )


# --- BPE vocabulary TRAINING (the learn side of text_bpe_apply_fertility) ---

_BPE_K = 8  # merges to learn; each is one chained oracle stage


def _bpe_cte_parts(k: int = _BPE_K) -> str:
    """The WITH body replaying K training rounds: w0 (char-split vocab)
    then per round a pair count, a deterministic argmax (freq DESC, then
    lexicographic), and the merge comprehension. Shared by the train and
    train+apply oracles. Self-pairs (a == b) are excluded so the merge
    step is order-free (see pipeline_bpe_train's docstring)."""
    parts = ["""
    WITH w0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             [word[i:i] FOR i IN range(1, len(word) + 1)] || ['</w>'] AS s
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    )"""]
    for r in range(1, k + 1):
        parts.append(f""",
    p{r} AS (
      SELECT pr[1] AS a, pr[2] AS b, SUM(freq) AS cnt
      FROM (SELECT freq,
                   UNNEST([[s[i], s[i+1]] FOR i IN range(1, len(s))]) AS pr
            FROM w{r-1})
      GROUP BY 1, 2
    ),
    m{r} AS (
      SELECT a, b, cnt FROM p{r} WHERE a <> b
      ORDER BY cnt DESC, a, b LIMIT 1
    ),
    w{r} AS (
      SELECT word, freq,
             [ CASE WHEN i < len(s) AND s[i] = m.a AND s[i+1] = m.b
                    THEN s[i] || s[i+1] ELSE s[i] END
               FOR i IN range(1, len(s) + 1)
               IF NOT (i > 1 AND s[i-1] = m.a AND s[i] = m.b) ] AS s
      FROM w{r-1}, m{r} m
    )""")
    return "".join(parts)


def _bpe_oracle(k: int = _BPE_K) -> str:
    """Train oracle: the K replayed rounds, emitting the merge table."""
    arms = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS rank, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, CAST(cnt AS BIGINT) AS pair_freq FROM m{r}"
        for r in range(1, k + 1)
    )
    return _bpe_cte_parts(k) + "\n" + arms


_SYM_OK = set("abcdefghijklmnopqrstuvwxyz0123456789</w>")


def _merge_expr(a: str, b: str) -> str:
    """Left-to-right merge of the (a, b) symbol pair as a pure HOF chain.
    Safe to inline because symbols are validated against _SYM_OK."""
    if not (set(a) <= _SYM_OK and set(b) <= _SYM_OK):
        raise ValueError(f"unexpected symbol characters: {a!r} {b!r}")
    return (
        "transform("
        f"  filter(sequence(1, size(s)), i -> NOT ("
        f"    i > 1 AND element_at(s, i - 1) = '{a}'"
        f"    AND element_at(s, i) = '{b}')),"
        f"  i -> CASE WHEN i < size(s) AND element_at(s, i) = '{a}'"
        f"            AND element_at(s, i + 1) = '{b}'"
        f"       THEN concat('{a}', '{b}') ELSE element_at(s, i) END)"
    )


_BPE_DRIVER_MAX_VOCAB = 65_536  # vocab rows; below -> driver merge loop


def _merge_seq_py(s: list[str], a: str, b: str) -> list[str]:
    """Driver-side twin of :func:`_merge_expr` for ``a != b``: left-to-right
    scan replacing each adjacent (a, b) with the merged symbol. With a != b
    occurrences cannot overlap, so the positionwise HOF (keep position i
    unless s[i-1..i] == (a, b); map position i to merged when s[i..i+1] ==
    (a, b)) and this greedy scan emit the identical sequence — pinned by a
    randomized A/B test against the HOF (tests/test_bpe_driver_kernel.py)."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if s[i] == a and i + 1 < n and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _bpe_driver_merges(
    rows: list, k: int
) -> tuple[list[tuple[int, str, str, str, int]], list[tuple[str, int, list[str]]]]:
    """The K-round merge loop on a COLLECTED vocab (word, freq, s) — exact
    twin of the distributed loop body: weighted adjacent-pair counts with
    a != b, argmax by (count DESC, a ASC, b ASC), positionwise merge.
    Python tuple comparison on str is code-point order == the UTF-8 binary
    order of Spark's orderBy, so the tie-break is engine-identical."""
    words_py = [(r[0], int(r[1]), list(r[2])) for r in rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, k + 1):
        cnt: dict[tuple[str, str], int] = {}
        for _w, f, s in words_py:
            for x, y in zip(s, s[1:]):
                if x != y:
                    key = (x, y)
                    cnt[key] = cnt.get(key, 0) + f
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, c))
        words_py = [(w, f, _merge_seq_py(s, a, b)) for w, f, s in words_py]
    return merges, words_py


def _bpe_train_vocab(
    spark: SparkSession, sf_dir: str, k: int = _BPE_K
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run the K-round BPE loop -> (merge rules, final vocab (word, freq, s)),
    persisted (the caller owns it) only on the distributed path.

    Size-adaptive execution (r17, the ``_cc_labels_adaptive`` recipe): the
    loop's input is the VOCABULARY table — Zipf-bounded, orders of
    magnitude smaller than the corpus — and each distributed round costs a
    fixed explode + aggregate + 1-row collect regardless of how few rows
    it touches. Below ``_BPE_DRIVER_MAX_VOCAB`` rows (known from the
    count that already materializes the vocab cache) the K rounds run
    driver-side from ONE bounded collect — identical pair counts, argmax
    order and merge application (see :func:`_bpe_driver_merges`) — turning
    ~k vocabulary-sized jobs into zero. Above the gate (a real corpus's
    vocabulary: millions of rows at 100 TB) the distributed loop below
    runs unchanged; tests pin driver == distributed on both crafted
    vocabularies and the committed corpora."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.filter(F.split("word", ""), lambda x: x != "")
    cur = words.select(
        "word",
        "freq",
        F.concat(chars, F.array(F.lit("</w>"))).alias("s"),
    ).persist()
    n_vocab = cur.count()

    if n_vocab <= _BPE_DRIVER_MAX_VOCAB:
        # Driver kernel: one bounded collect of the (word, freq, s) vocab
        # (the initial symbol split stays SPARK-side, so split semantics
        # are byte-identical to the distributed path), K merge rounds in
        # plain Python, and the final vocab re-enters Spark as a local
        # relation with the distributed frame's exact schema.
        rows = [(r["word"], r["freq"], r["s"]) for r in cur.collect()]
        cur.unpersist()
        merges, words_py = _bpe_driver_merges(rows, k)
        final = spark.createDataFrame(
            words_py, "word string, freq bigint, s array<string>"
        )
        return merges, final

    merges: list[tuple[int, str, str, str, int]] = []
    # Round-r action budget (r16 optimization): ONE driver action per round
    # — the 1-row argmax collect. The eager nxt.count() each round was a
    # second materializing job whose only purpose was letting cur unpersist
    # immediately; instead each round's collect doubles as the materializer
    # of the PREVIOUS round's vocab (persist substitution happens on the
    # analyzed plan, so the per-round persist still stops CollapseProject
    # from re-inlining the merge HOFs exponentially), and the grandparent
    # cache — no longer reachable once the parent is materialized — is
    # released one round late. Peak cache: 3 vocab-sized frames instead
    # of 2; actions: k+1 instead of 2k.
    grandparent: DataFrame | None = None
    for rank in range(1, k + 1):
        pairs = cur.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> array(element_at(s, i), element_at(s, i + 1)))"
                )
            ).alias("pr"),
        )
        top = (
            pairs.select(
                F.col("pr")[0].alias("a"), F.col("pr")[1].alias("b"), "freq"
            )
            .filter(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: exactly one merge rule; also fills the
            # parent vocab's cache (its first action)
        )
        if grandparent is not None:
            grandparent.unpersist()
        if not top:
            grandparent = None
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        nxt = cur.select(
            "word", "freq", F.expr(_merge_expr(a, b)).alias("s")
        ).persist()
        grandparent = cur
        cur = nxt
    # Materialize the final vocab once so the last live ancestor can be
    # released before return (the caller owns only ``cur``).
    if grandparent is not None:
        cur.count()
        grandparent.unpersist()
    return merges, cur


@query("pipeline_bpe_train", oracle=_bpe_oracle())
def pipeline_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary TRAINING (Sennrich et al. 2016) — the
    learn side of ``text_bpe_apply_fertility``: start from characters +
    an explicit ``</w>`` end-of-word marker, then repeatedly (a) count
    every adjacent symbol pair weighted by word frequency, (b) take the
    argmax with a deterministic tie-break (freq DESC, then lexicographic
    on both symbols), (c) apply the merge corpus-wide. Emits the learned
    merge table: (rank, left_sym, right_sym, merged, pair_freq) — the
    artifact a tokenizer build step ships.

    Candidate pairs with a == b are EXCLUDED: standard BPE resolves
    self-runs ("aaa") left-to-right, which makes the merge application
    order-dependent; restricting to a <> b makes each merge provably
    non-overlapping, so the positionwise comprehension both engines run
    is exact. On natural-language corpora the top merges are never
    self-pairs, so the restriction is a determinism contract, not a
    quality loss (documented deviation).

    Execution shape: the corpus collapses ONCE to (word, freq, symbols)
    — vocabulary-sized, Zipf-bounded, orders of magnitude smaller than
    the token stream — then each round is one explode + one map-side
    combinable pair count + a 1-ROW argmax collect (bounded driver
    state: the merge rule itself), and the merge applies as a pure
    array-HOF rewrite of the vocabulary table. At 100 TB only the first
    word count touches the corpus; all K rounds run on the vocab table.
    The oracle replays all K rounds as chained CTEs with the identical
    argmax ordering.
    """
    merges, cur = _bpe_train_vocab(spark, sf_dir)
    cur.unpersist()
    return spark.createDataFrame(
        merges,
        "rank int, left_sym string, right_sym string, merged string, "
        "pair_freq bigint",
    )


def _bpe_apply_oracle(k: int = _BPE_K) -> str:
    """Train+apply oracle: replay the K rounds, then tokenize every doc
    by joining its words to the final vocab's symbol count."""
    return f"""
    {_bpe_cte_parts(k)},
    wt AS (SELECT word, len(s) AS n_tok FROM w{k}),
    dw AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    ),
    j AS (
      SELECT doc_id, n_tok FROM dw JOIN wt USING (word) WHERE word <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(n_tok)) // COUNT(*) AS BIGINT)
             AS fertility_ppm
    FROM j GROUP BY doc_id
    """


@query("pipeline_bpe_train_apply", oracle=_bpe_apply_oracle())
def pipeline_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END learned tokenization: train the BPE merge table on the
    corpus (:func:`_bpe_train_vocab` — the pipeline_bpe_train loop), then
    tokenize every document WITH THE LEARNED VOCAB and emit per-doc word
    count, token count, and fertility (tokens/word, ppm) — the number
    that prices a corpus slice in compute under the tokenizer you just
    learned, closing the loop that ``text_bpe_apply_fertility`` (fixed
    demo table) and ``pipeline_bpe_train`` (rules only) each cover half
    of.

    The apply side is deliberately NOT a per-occurrence re-tokenization:
    after training, the final vocab table already holds each word's
    symbol sequence, so tokenization is a join from the exploded word
    stream to the Zipf-bounded ``(word, n_tok)`` table — broadcast
    (a natural-language vocabulary is millions of rows at 100 TB; the
    bounded-broadcast assumption is the same one the knn classifier
    documents, and the fallback is a plain shuffled hash join on the
    word key). Only the initial word count and this join ever touch the
    corpus; all K training rounds run on the vocab table. The oracle
    replays training as chained CTEs and applies the identical
    vocab-join.
    """
    merges, vocab = _bpe_train_vocab(spark, sf_dir)
    del merges  # the rules are implicit in the vocab's symbol lists
    vocab_tok = vocab.select("word", F.size("s").alias("n_tok"))

    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        dw.join(F.broadcast(vocab_tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.expr("(1000000 * n_tokens) div n_words").alias("fertility_ppm"),
        )
    )


# --- CCNet-style perplexity buckets (round 16) -------------------------------
#
# Fixed-point base-2 logarithm, Q20, by unrolled shift-and-square — the
# classic integer algorithm: normalize v to m in [2^29, 2^30) (so m^2 < 2^60
# stays in BIGINT), then 20 rounds of m <- m^2 >> 29, emitting a fraction
# bit whenever the square crosses 2^30. Every operation is an integer
# multiply / floor-division / comparison on positive BIGINTs — bit-identical
# in Spark and DuckDB — so "log2" here is not an approximation call into
# libm but a PINNED integer function both engines compute exactly.

_PPX_NORM = 1 << 29      # normalization floor (2^29)
_PPX_TOP = 1 << 30       # overflow threshold after squaring (2^30)
_PPX_QBITS = 20          # fraction bits (Q20)
_PPX_COARSE = 1 << 14    # tertile thresholds read the Q6 coarsening


def _log2_q20_py(v: int) -> int:
    """Reference implementation (module-import-time constants + tests)."""
    assert v >= 1
    e = v.bit_length() - 1
    m = (v << (29 - e)) if e <= 29 else (v >> (e - 29))
    acc = 0
    for _ in range(_PPX_QBITS):
        m = (m * m) >> 29
        if m >= _PPX_TOP:
            acc = acc * 2 + 1
            m >>= 1
        else:
            acc = acc * 2
    return e * (1 << _PPX_QBITS) + acc


_PPX_L2_SCALE = _log2_q20_py(_LM_SCALE)  # log2(SCALE) in Q20, exact literal


def _ppx_oracle() -> str:
    """DuckDB oracle: the shift-and-square rounds are 20 chained
    MATERIALIZED CTEs (inlining would double the expression per step —
    the kcore exponential-reinline lesson); Spark runs the identical
    algorithm as ONE aggregate() HOF (runtime iteration, no static
    expression growth)."""
    powers = ", ".join(f"({k}, {1 << k})" for k in range(20))
    steps = []
    for i in range(_PPX_QBITS):
        steps.append(f""",
    s{i + 1} AS MATERIALIZED (
      SELECT v, e,
             CASE WHEN (m * m) // {_PPX_NORM} >= {_PPX_TOP}
                  THEN ((m * m) // {_PPX_NORM}) // 2
                  ELSE (m * m) // {_PPX_NORM} END AS m,
             acc * 2 + CASE WHEN (m * m) // {_PPX_NORM} >= {_PPX_TOP}
                            THEN 1 ELSE 0 END AS acc
      FROM s{i})""")
    steps_sql = "".join(steps)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    train_bi AS MATERIALIZED (
      SELECT w1, w2, COUNT(*) AS cb FROM (
        SELECT words[i+1] AS w1, words[i+2] AS w2
        FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
        WHERE doc_id % 10 < 8
      ) GROUP BY 1, 2
    ),
    ctx AS MATERIALIZED (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu1,
             CAST(COUNT(*) AS BIGINT) AS n1post
      FROM train_bi GROUP BY w1
    ),
    cont AS MATERIALIZED (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pre FROM train_bi GROUP BY w2
    ),
    types AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM train_bi),
    all_bi AS MATERIALIZED (
      SELECT doc_id, words[i+1] AS w1, words[i+2] AS w2
      FROM toks, UNNEST(range(len(words) - 1)) AS t(i)
    ),
    scored AS MATERIALIZED (
      SELECT a.doc_id,
             GREATEST(
               CASE
                 WHEN x.cu1 IS NULL THEN
                   ({_LM_SCALE} * COALESCE(n.n1pre, 0)) // t.nt
                 ELSE
                   ({_LM_SCALE} * GREATEST(4 * COALESCE(b.cb, 0) - 3, 0))
                     // (4 * x.cu1)
                   + (3 * x.n1post
                      * (({_LM_SCALE} * COALESCE(n.n1pre, 0)) // t.nt))
                     // (4 * x.cu1)
               END, 1) AS p
      FROM all_bi a
      LEFT JOIN train_bi b ON b.w1 = a.w1 AND b.w2 = a.w2
      LEFT JOIN ctx x ON x.w1 = a.w1
      LEFT JOIN cont n ON n.w2 = a.w2
      CROSS JOIN types t
    ),
    dv AS MATERIALIZED (SELECT DISTINCT p AS v FROM scored),
    pw (k, p2) AS (VALUES {powers}),
    s0 AS MATERIALIZED (
      SELECT v, pw.k AS e,
             CAST(v * ({_PPX_NORM} // pw.p2) AS BIGINT) AS m,
             CAST(0 AS BIGINT) AS acc
      FROM dv JOIN pw ON pw.p2 <= v AND v < 2 * pw.p2
    ){steps_sql},
    lg AS MATERIALIZED (
      SELECT v, e * {1 << _PPX_QBITS} + acc AS lv FROM s{_PPX_QBITS}
    ),
    per_doc AS MATERIALIZED (
      SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST((COUNT(*) * {_PPX_L2_SCALE} - SUM(lg.lv)) // COUNT(*)
                  AS BIGINT) AS h_q20
      FROM scored s JOIN lg ON lg.v = s.p
      GROUP BY 1
    ),
    hcnt AS MATERIALIZED (
      SELECT h_q20 // {_PPX_COARSE} AS hc, COUNT(*) AS cnt
      FROM per_doc GROUP BY 1
    ),
    cum AS MATERIALIZED (
      SELECT a.hc, CAST(SUM(b.cnt) AS BIGINT) AS cum
      FROM hcnt a JOIN hcnt b ON b.hc <= a.hc GROUP BY a.hc
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_doc),
    th AS MATERIALIZED (
      SELECT MIN(CASE WHEN 3 * c.cum >= t.n THEN c.hc END) AS t1,
             MIN(CASE WHEN 3 * c.cum >= 2 * t.n THEN c.hc END) AS t2
      FROM cum c, tot t
    )
    SELECT d.doc_id, d.n_bigrams, d.h_q20,
           CASE WHEN d.h_q20 // {_PPX_COARSE} <= th.t1 THEN 'head'
                WHEN d.h_q20 // {_PPX_COARSE} <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM per_doc d, th
    """


@query("pipeline_perplexity_buckets", oracle=_ppx_oracle())
def pipeline_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the OTHER half of the public
    CCNet recipe (Wenzek et al. 2020: score every document's per-token
    cross-entropy under a language model trained on trusted text, then
    split the corpus into head/middle/tail perplexity tertiles; the
    round-16 `pipeline_quality_classifier` is the fastText half). The LM
    is this repo's interpolated Kneser-Ney bigram model (the
    `text_bigram_lm_kneser_ney` quantized-probability machinery verbatim,
    trained on the doc_id%10<8 split); the new piece is EXACT FIXED-POINT
    CROSS-ENTROPY: per-token H = log2(SCALE) - mean log2(p_q) in Q20,
    where log2 is a PINNED integer algorithm (20 rounds of shift-and-
    square over positive BIGINTs — see _log2_q20_py) rather than a libm
    call, so both engines produce bit-identical entropies and the full
    relation hash-matches. Zero quantized probabilities floor at 1 (the
    documented OOV convention — unseen-everything bigrams cost the
    maximum ~log2(SCALE) bits). Tertile thresholds are computed over the
    Q6-coarsened entropy (h_q20 div {coarse}) with the kcore
    cum-count-over-distinct-values rank statistic: the coarsened domain
    is bounded by the VALUE RANGE (~20*2^6 values), never by corpus
    size, so the threshold join stays a broadcast at any scale and no
    global sort / single-partition window exists anywhere in the plan.
    Boundary ties go to the lower bucket (head = lowest perplexity =
    cleanest text, the CCNet orientation).

    Scale shape: model = three reuses of one bigram-count aggregate
    (word-count shuffles, Zipf-bounded outputs); scoring = the KN hash
    joins over the full corpus bigram stream; the log2 stage runs over
    DISTINCT quantized probabilities — bounded by SCALE ({scale} =
    at most ~1e6 rows, corpus-independent) — as ONE aggregate() HOF
    (runtime loop: no exponential projection growth; the oracle's 20
    MATERIALIZED CTE steps are the same algorithm) and broadcasts the
    value->log table back into the per-doc aggregate. Per-doc frame is
    persisted once (three consumers: histogram, total, final tag).
    """
    from oe_batch_processing_spark.tables import persist_once

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2), "
                "i -> struct(words[i] AS w1, words[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # persist (r16): the model table feeds FOUR plan branches (the scoring
    # join, ctx, cont, types) — without the cache each branch re-ran the
    # full-corpus bigram explode + filter + count aggregate (the plan
    # carried the documents scan once per branch); runtime ReusedExchange
    # never bridges differently-aggregated consumers. Zipf-bounded
    # vocabulary-sized frame — the cheapest point to pin the model.
    train_bi = (
        bigrams.filter(F.col("doc_id") % 10 < 8)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .persist()
    )
    ctx = train_bi.groupBy("w1").agg(
        F.sum("cb").alias("cu1"), F.count(F.lit(1)).alias("n1post")
    )
    cont = train_bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1pre"))
    types = train_bi.agg(F.count(F.lit(1)).alias("nt"))
    scored = (
        bigrams.join(
            train_bi.withColumnRenamed("cb", "cb_t"), ["w1", "w2"], "left"
        )
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
        .select(
            "doc_id",
            F.expr(
                f"""GREATEST(CASE
                  WHEN cu1 IS NULL THEN
                    ({_LM_SCALE} * COALESCE(n1pre, 0)) div nt
                  ELSE
                    ({_LM_SCALE} * GREATEST(4 * COALESCE(cb_t, 0) - 3, 0))
                      div (4 * cu1)
                    + (3 * n1post
                       * (({_LM_SCALE} * COALESCE(n1pre, 0)) div nt))
                      div (4 * cu1)
                END, 1)"""
            ).alias("p"),
        )
        # persist (r16): scored feeds TWO consumers — the distinct-value
        # frame under the broadcast log-table build and the per-doc
        # entropy aggregate's probe side — and without the cache each
        # evaluated the whole 4-join KN scoring pipeline (and, below it,
        # the corpus bigram explode) from scratch. Narrow (doc_id, p)
        # projection — the slimmest point to pin the scoring pass. The
        # broadcast lg build runs first and fills this cache serially, so
        # the probe side never races the fill.
        .persist()
    )
    dv = scored.select(F.col("p").alias("v")).distinct()
    pw = spark.createDataFrame(
        [(k, 1 << k) for k in range(20)], "k int, p2 long"
    )
    s0 = dv.join(
        F.broadcast(pw),
        (F.col("p2") <= F.col("v")) & (F.col("v") < 2 * F.col("p2")),
    ).select(
        "v",
        F.col("k").alias("e"),
        (F.col("v") * F.expr(f"{_PPX_NORM} div p2")).alias("m0"),
    )
    # the 20 shift-and-square rounds as ONE runtime-iterated HOF — a
    # statically unrolled projection chain would double the expression
    # per round under CollapseProject (m appears twice in each square)
    lg = s0.select(
        "v",
        F.expr(
            f"""e * {1 << _PPX_QBITS} + aggregate(
              sequence(1, {_PPX_QBITS}),
              struct(m0 AS m, CAST(0 AS BIGINT) AS acc),
              (s, i) -> CASE
                WHEN (s.m * s.m) div {_PPX_NORM} >= {_PPX_TOP}
                THEN struct(((s.m * s.m) div {_PPX_NORM}) div 2 AS m,
                            s.acc * 2 + 1 AS acc)
                ELSE struct((s.m * s.m) div {_PPX_NORM} AS m,
                            s.acc * 2 AS acc) END,
              s -> s.acc)"""
        ).alias("lv"),
    )
    per_doc = persist_once(
        scored.join(F.broadcast(lg), scored.p == lg.v)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                f"CAST((COUNT(1) * {_PPX_L2_SCALE} - SUM(lv)) div COUNT(1) "
                "AS BIGINT)"
            ).alias("h_q20"),
        )
    )
    hcnt = per_doc.groupBy(
        F.expr(f"h_q20 div {_PPX_COARSE}").alias("hc")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum = (
        hcnt.alias("a")
        .join(
            F.broadcast(
                hcnt.select(
                    F.col("hc").alias("hc2"), F.col("cnt").alias("cnt2")
                )
            ),
            F.col("hc2") <= F.col("a.hc"),
        )
        .groupBy("a.hc")
        .agg(F.sum("cnt2").alias("cum"))
    )
    tot = per_doc.agg(F.count(F.lit(1)).alias("n"))
    th = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(3 * F.col("cum") >= F.col("n"), F.col("hc"))
            ).alias("t1"),
            F.min(
                F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("hc"))
            ).alias("t2"),
        )
    )
    return per_doc.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_bigrams",
        "h_q20",
        F.expr(
            f"""CASE WHEN h_q20 div {_PPX_COARSE} <= t1 THEN 'head'
                 WHEN h_q20 div {_PPX_COARSE} <= t2 THEN 'middle'
                 ELSE 'tail' END"""
        ).alias("bucket"),
    )


pipeline_perplexity_buckets.__doc__ = pipeline_perplexity_buckets.__doc__.format(
    coarse=_PPX_COARSE, scale=_LM_SCALE
)
