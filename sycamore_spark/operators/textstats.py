"""Text-analysis operators over a documents table: per-doc stats, language
ID, quality scoring, fingerprinting, the published quality-filter recipes
(Gopher/MassiveText rules + full char-fraction repetition suite, C4 line/
page cleaning), and corpus-statistics utilities. The scalar operators are
single narrow codegen projections (functions/text.py — no shuffle); the
repetition/filter suites add only map-side-combined hash aggs, count
windows, and island sweeps keyed on (doc, gram) — never per-doc Python,
never a corpus cross-product."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions import text as T


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document surface statistics. Returns
    (id, n_tokens, n_chars_obs, mean_word_len, distinct_tokens)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        T.token_count(c).alias("n_tokens"),
        F.length(c).alias("n_chars_obs"),
        F.round(T.mean_word_length(c), 6).alias("mean_word_len"),
        F.size(F.array_distinct(T.tokens(c))).alias("distinct_tokens"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic marker-word language classification → (id, lang_pred)."""
    return df.select(F.col(id_col), T.lang_id(F.col(text_col)).alias("lang_pred"))


def quality(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Quality features + composite score → (id, stopword_ratio, punct_ratio,
    quality_score)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.round(T.stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(T.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(T.quality_score(c), 6).alias("quality_score"),
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stable md5 fingerprint of normalized text → (id, fingerprint)."""
    return df.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fingerprint"))


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    line_badwords: tuple = ("javascript",),
    page_markers: tuple = ("{", "lorem ipsum"),
) -> DataFrame:
    """The C4 cleaning recipe (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning...", §2.2): LINE rules — keep only lines that end in
    terminal punctuation (. ! ? "), have >= ``min_words_per_line`` words,
    and contain none of ``line_badwords`` (case-insensitive); PAGE rules —
    drop the page when the cleaned text has fewer than ``min_sentences``
    sentences or the ORIGINAL page contains any of ``page_markers``
    (C4 drops curly-brace pages as code and 'lorem ipsum' as boilerplate).

    Returns (id, c4_text = surviving lines joined by newline, n_lines_kept,
    n_sentences, c4_keep). Sentence count = terminal-punctuation marks
    ('.', '!', '?') in the cleaned text — C4's own cheap proxy.

    Cross-engine exactness: the line predicate is right(rtrim(line), 1)
    membership + a single-space word split + lower() contains — each
    replays verbatim in DuckDB; sentence counting is nested plain
    ``replace`` (no regex flag divergence). Scale shape: one narrow
    codegen projection, zero shuffle — the array HOFs run per line of one
    document, never across documents."""
    c = F.col(text_col)
    lines = F.split(c, "\n")

    def line_ok(l):
        ok = F.right(F.rtrim(l), F.lit(1)).isin(".", "!", "?", '"')
        ok = ok & (F.size(F.split(l, " ")) >= F.lit(min_words_per_line))
        for bw in line_badwords:
            ok = ok & ~F.contains(F.lower(l), F.lit(bw.lower()))
        return ok

    kept = F.filter(lines, line_ok)
    c4_text = F.array_join(kept, "\n")
    n_sent = (
        F.length(c4_text)
        - F.length(
            F.replace(
                F.replace(F.replace(c4_text, F.lit("."), F.lit("")), F.lit("!"), F.lit("")),
                F.lit("?"),
                F.lit(""),
            )
        )
    ).cast("long")
    keep = n_sent >= F.lit(min_sentences)
    for mk in page_markers:
        keep = keep & ~F.contains(F.lower(c), F.lit(mk.lower()))
    return df.select(
        F.col(id_col),
        c4_text.alias("c4_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        keep.alias("c4_keep"),
    )


# Gopher's prose-detection stopword list (Rae et al. 2021, MassiveText
# quality filtering, Table A1) — distinct from functions/text.EN_STOPWORDS
# (the ratio feature's broader list).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_MICRO = 1_000_000


def gopher_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_start_frac: float = 0.9,
    max_ellipsis_end_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_bigram_frac: float = 0.2,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """The full Gopher/MassiveText quality-filter composition (Rae et al.
    2021, Table A1): every per-document rule as a boolean column plus the
    conjunction ``gopher_keep`` — word-count band, mean-word-length band,
    symbol-to-word ratio ('#' and '...'), bullet-start / ellipsis-end
    line fractions, alphabetic-word fraction, >=2 distinct Gopher
    stopwords (prose detection), duplicate-line fraction, and the
    duplicate/top-bigram repetition signals from ``repetition_stats``.

    Cross-engine exactness: every ratio rule compares in SCALED-INTEGER
    space (``count * 1e6  <=>  threshold_micros * denominator``) so no
    float division can diverge between engines; the two bigram fractions
    come from ``repetition_stats``'s round(x, 6) doubles, which already
    hash-match the DuckDB oracle. Thresholds quantize to micros.

    Scale shape: one narrow projection for the eight surface rules (array
    expressions, codegen) + the bigram explode/groupBy from
    ``repetition_stats`` joined back on ``id_col`` — two shuffles total
    (the bigram agg and the id join), both map-side combined; no Python,
    no window, no corpus cross-product."""
    c = F.col(text_col)
    toks = T.tokens(c)
    n_words = F.size(toks)
    total_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    n_symbols = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
        + (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("long")
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    ellipsis = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    dup_lines = n_lines - F.size(F.array_distinct(lines))

    def _mic(x: float) -> F.Column:
        # threshold in micros as a LONG literal: every comparison below is
        # long*long vs long*long — no int32 overflow, no float division
        return F.lit(int(round(x * _MICRO))).cast("long")

    m = F.lit(_MICRO).cast("long")
    nw = n_words.cast("long")
    nl = n_lines.cast("long")
    surface = df.select(
        F.col(id_col),
        nw.alias("n_words"),
        (n_words.between(min_words, max_words)).alias("ok_word_count"),
        (
            (total_chars * m >= _mic(min_mean_word_len) * nw)
            & (total_chars * m <= _mic(max_mean_word_len) * nw)
        ).alias("ok_mean_word_len"),
        (n_symbols * m <= _mic(max_symbol_ratio) * nw).alias("ok_symbol_ratio"),
        (bullet.cast("long") * m <= _mic(max_bullet_start_frac) * nl).alias(
            "ok_bullet_lines"
        ),
        (ellipsis.cast("long") * m <= _mic(max_ellipsis_end_frac) * nl).alias(
            "ok_ellipsis_lines"
        ),
        (alpha_words.cast("long") * m >= _mic(min_alpha_word_frac) * nw).alias(
            "ok_alpha_words"
        ),
        (stop_hits >= F.lit(min_stop_hits)).alias("ok_stopwords"),
        (dup_lines.cast("long") * m <= _mic(max_dup_line_frac) * nl).alias(
            "ok_dup_lines"
        ),
    )
    rep = repetition_stats(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col),
        (F.col("dup_bigram_frac") <= F.lit(max_dup_bigram_frac)).alias("ok_dup_bigrams"),
        (F.col("top_bigram_frac") <= F.lit(max_top_bigram_frac)).alias("ok_top_bigram"),
    )
    out = surface.join(rep, id_col)
    rule_cols = [x for x in out.columns if x.startswith("ok_")]
    keep_col = F.col(rule_cols[0])
    for rc in rule_cols[1:]:
        keep_col = keep_col & F.col(rc)
    return out.withColumn("gopher_keep", keep_col)


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (training-data quality rules beyond
    the reference's surface): fraction of tokens inside duplicate bigrams
    and the share of the most frequent bigram. All higher-order-function
    expressions — no shuffle, no Python.

    Returns (id, n_bigrams, distinct_bigrams, dup_bigram_frac,
    top_bigram_frac)."""
    toks = T.tokens(F.col(text_col))
    n = F.size(toks)
    # Bigrams as arrays_zip of the token array against itself shifted by
    # one — NO higher-order functions anywhere: HOF lambdas are interpreted
    # per element (no codegen) and measured 9x slower than this all-native
    # slice/zip/explode shape. After the explode each bigram becomes one
    # xxhash64 LONG (the stats only need equality; an 8-byte key shrinks
    # the groupBy shuffle vs ~20-byte strings; collision odds ~k^2/2^65).
    # explode_outer keeps 0-bigram docs.
    # fan_out first: the explode + partial hash-agg is CPU-bound, and a
    # single-file extract scans as 1-2 partitions, serializing it on 2
    # cores (measured 5.8s -> 1.1s at the sf1-equivalent corpus). A no-op
    # on well-partitioned cluster inputs.
    from sycamore_spark.functions.partitioning import fan_out

    df = fan_out(df)
    pairs = F.when(n < 2, F.array().cast("array<struct<a:string,b:string>>")).otherwise(
        F.arrays_zip(F.slice(toks, 1, n - 1).alias("a"), F.slice(toks, 2, n - 1).alias("b"))
    )
    b = df.select(F.col(id_col), F.explode_outer(pairs).alias("_p")).select(
        F.col(id_col),
        F.when(F.col("_p").isNotNull(), F.xxhash64(F.col("_p.a"), F.col("_p.b"))).alias("_bg"),
    )
    # two-level partial-aggregated groupBy: mode/distinct come from
    # vectorized hash aggregation that scales to arbitrarily long documents.
    per_bigram = b.groupBy(id_col, "_bg").agg(F.count(F.col("_bg")).alias("_c"))
    nb = F.sum("_c")
    distinct_b = F.count(F.when(F.col("_bg").isNotNull(), 1))
    top = F.max("_c")
    return per_bigram.groupBy(id_col).agg(
        nb.cast("int").alias("n_bigrams"),
        distinct_b.cast("int").alias("distinct_bigrams"),
        F.round(
            F.when(nb == 0, 0.0).otherwise((nb - distinct_b) / nb.cast("double")), 6
        ).alias("dup_bigram_frac"),
        F.round(F.when(nb == 0, 0.0).otherwise(top / nb.cast("double")), 6).alias(
            "top_bigram_frac"
        ),
    )


def gopher_repetition(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The FULL Gopher repetition suite (Rae et al. 2021, Table A1) with
    the paper's CHARACTER-fraction semantics, which ``repetition_stats``'s
    count fractions approximate:

    - ``dup_line_frac`` / ``dup_para_frac`` — duplicate lines/paragraphs
      as a fraction of lines/paragraphs (paragraph = blank-line split);
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters in the
      all-but-first occurrences of duplicated lines/paragraphs over the
      text length;
    - ``top{2,3,4}gram_char_frac`` — characters of all occurrences of the
      MOST FREQUENT word n-gram over the token-stream length (ties break
      by (count, gram char length, gram) descending — deterministic and
      engine-agnostic);
    - ``dup{5..10}gram_char_frac`` — characters COVERED by any word
      n-gram occurring more than once, overlapping spans counted once
      (interval-union sweep), over the token-stream length.

    Scale shape — everything is corpus-linear relational algebra, no
    per-doc Python: one posexplode + ONE ordered window per doc builds
    token char offsets and all lead-chained grams for n=2..10 in a single
    exchange; gram counts are a map-side-combined groupBy on (id, n,
    gram-hash); span coverage is the classic island sweep (one window per
    (id, n) ordered by span start); line/paragraph stats are one explode
    + two hash aggs. Every fraction is round(x, 6) of a BIGINT/BIGINT
    division — IEEE-identical in DuckDB, so the whole suite replays
    bit-for-bit.

    Skew note: the offset/lead window partitions by DOCUMENT, so one
    pathological multi-GB document serializes ITS OWN pass on one task —
    inherent to per-doc ordered semantics (same contract as every per-doc
    window here); the heavy stages (gram counts, span sweeps) key on
    (id, n, gram-hash) / (id, n) and stay distributed regardless."""
    from pyspark.sql.window import Window

    c = F.col(text_col)
    did = F.col(id_col)

    # ---- per-doc base: token stream with char offsets -------------------
    toks = T.tokens(c)  # lower + trim + \s+ split
    base = df.select(did.alias("_id"), c.alias("_txt"), toks.alias("_toks"))
    tok = base.select(
        "_id", F.posexplode("_toks").alias("_pos", "_tok")
    ).withColumn("_tlen", F.length("_tok"))
    w = Window.partitionBy("_id").orderBy("_pos")
    # char offset of token i in the single-space-joined stream
    tok = tok.withColumn(
        "_start",
        F.coalesce(
            F.sum(F.col("_tlen") + F.lit(1)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    totals = tok.groupBy("_id").agg(
        (F.sum("_tlen") + F.count(F.lit(1)) - F.lit(1)).cast("long").alias("_total")
    )

    # ---- grams n=2..10 off ONE shared window (lead chains) --------------
    lead_tok = [F.col("_tok")] + [F.lead("_tok", k).over(w) for k in range(1, 10)]
    lead_end = [
        (F.lead("_start", k).over(w) + F.lead("_tlen", k).over(w)).alias(f"_e{k}")
        for k in range(1, 10)
    ]
    from sycamore_spark.functions.partitioning import lineage_cut

    g = tok.select("_id", "_pos", "_start", "_tlen", *lead_end,
                   *[lt.alias(f"_t{k}") for k, lt in enumerate(lead_tok)])
    # ALL grams in one pass: one struct per n (NULL when the doc is too
    # short) exploded from a single array — a 9-branch union would
    # re-execute the scan + explode + ordered window once PER branch
    # (plan audit showed 42 parquet scans / 46 exchanges on that shape).
    # The gram's char length IS its span length (tokens + n-1 spaces), so
    # the gram STRING never ships through the count shuffle (24M x ~80B
    # at the sf1eq corpus).
    gram_structs = []
    for n in range(2, 11):
        parts = [F.col(f"_t{k}") for k in range(n)]
        gram_structs.append(
            F.when(
                F.col(f"_t{n-1}").isNotNull(),
                F.struct(
                    F.lit(n).alias("_n"),
                    F.col("_start").alias("_gs"),
                    F.col(f"_e{n-1}").cast("long").alias("_ge"),
                    F.xxhash64(*parts).alias("_gh"),
                    (F.col(f"_e{n-1}") - F.col("_start")).cast("long").alias("_glen"),
                ),
            )
        )
    grams = (
        g.select("_id", F.explode(F.array(*gram_structs)).alias("_g"))
        .where(F.col("_g").isNotNull())
        .select("_id", "_g.*")
    )
    # One count WINDOW instead of a groupBy + join-back: every gram
    # occurrence carries its group count in the same shuffle that a
    # groupBy would have cost, and the duplicated-span set is then a pure
    # filter — the corpus-gram-scale probe join disappears. The cut is
    # EAGER: the two consumers (top aggregation, span sweep) sit in the
    # same final action, and a lazily-cached frame referenced from two
    # branches of one job computes its lineage once per branch (the r6
    # containment_lsh lesson) — A/B'd r14: warm 5.3 s lazy vs 4.7 s eager
    # at sf0.1.
    wcnt = Window.partitionBy("_id", "_n", "_gh")
    counted = lineage_cut(
        grams.withColumn("_cnt", F.count(F.lit(1)).over(wcnt))
    )

    # ---- top n-gram char fraction (n = 2, 3, 4) --------------------------
    top = (
        counted.where(F.col("_n") <= 4)
        .groupBy("_id", "_n")
        .agg(
            F.max(
                F.struct(F.col("_cnt"), F.col("_glen"), F.col("_gh"))
            ).alias("_m")
        )
        .select(
            "_id",
            "_n",
            (F.col("_m._cnt") * F.col("_m._glen")).cast("long").alias("_topchars"),
        )
    )

    # ---- duplicated-gram span coverage (n = 5..10) ------------------------
    dup_spans = counted.where((F.col("_n") >= 5) & (F.col("_cnt") > 1))
    sweep = Window.partitionBy("_id", "_n").orderBy(F.col("_gs").asc(), F.col("_ge").asc())
    prev_max = F.max("_ge").over(sweep.rowsBetween(Window.unboundedPreceding, -1))
    covered = dup_spans.withColumn(
        "_cov",
        F.greatest(
            F.col("_ge") - F.greatest(F.col("_gs"), F.coalesce(prev_max, F.lit(-1).cast("long"))),
            F.lit(0).cast("long"),
        ),
    ).groupBy("_id", "_n").agg(F.sum("_cov").cast("long").alias("_dupchars"))

    # ---- line / paragraph duplicate fractions ----------------------------
    def _seg_stats(sep: str, prefix: str) -> DataFrame:
        seg = base.select(
            "_id", F.length("_txt").alias("_txtlen"), F.explode(F.split("_txt", sep)).alias("_seg")
        )
        per = seg.groupBy("_id", "_txtlen", "_seg").agg(F.count(F.lit(1)).alias("_c"))
        return per.groupBy("_id").agg(
            F.round(
                (F.sum("_c") - F.count(F.lit(1)))
                / F.greatest(F.sum("_c"), F.lit(1)).cast("double"),
                6,
            ).alias(f"dup_{prefix}_frac"),
            F.round(
                F.sum((F.col("_c") - 1) * F.length("_seg")).cast("double")
                / F.greatest(F.first("_txtlen"), F.lit(1)).cast("double"),
                6,
            ).alias(f"dup_{prefix}_char_frac"),
        )

    lines = _seg_stats("\n", "line")
    paras = _seg_stats("\n\n", "para")

    # ---- assemble: one conditional agg per family (NOT one join per n —
    # each (id, n) has exactly one row, so max(when(n==k)) pivots free) ----
    top_piv = top.groupBy("_id").agg(
        *[
            F.max(F.when(F.col("_n") == n, F.col("_topchars"))).alias(f"_tc{n}")
            for n in (2, 3, 4)
        ]
    )
    cov_piv = covered.groupBy("_id").agg(
        *[
            F.max(F.when(F.col("_n") == n, F.col("_dupchars"))).alias(f"_dc{n}")
            for n in range(5, 11)
        ]
    )
    out = (
        totals.join(top_piv, "_id", "left")
        .join(cov_piv, "_id", "left")
        .join(lines, "_id", "left")
        .join(paras, "_id", "left")
    )
    total = F.greatest(F.col("_total"), F.lit(1)).cast("double")
    sel = [
        F.col("_id").alias(id_col),
        F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
        F.coalesce("dup_para_frac", F.lit(0.0)).alias("dup_para_frac"),
        F.coalesce("dup_para_char_frac", F.lit(0.0)).alias("dup_para_char_frac"),
    ]
    for n in (2, 3, 4):
        sel.append(
            F.round(F.coalesce(F.col(f"_tc{n}"), F.lit(0)).cast("double") / total, 6)
            .alias(f"top{n}gram_char_frac")
        )
    for n in range(5, 11):
        sel.append(
            F.round(F.coalesce(F.col(f"_dc{n}"), F.lit(0)).cast("double") / total, 6)
            .alias(f"dup{n}gram_char_frac")
        )
    return out.select(*sel)


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Test-set decontamination: flag documents sharing any word n-gram with
    a probe corpus (the standard benchmark-leakage check for training
    data).

    Scale shape: both sides explode to distinct n-grams carried as xxhash64
    longs (8-byte join keys, built HOF-free via shifted-slice arrays_zip —
    interpreted HOF lambdas measured ~9x slower); the probe n-gram set is
    deduped and (by default) broadcast, so the match is a broadcast
    semi-join per doc-ngram — no quadratic text comparison anywhere. For
    probe sets too big to broadcast, pass broadcast_probes=False for a
    shuffle hash join on the n-gram hash.

    Returns (id, n_ngrams, contaminated_ngrams, contamination_frac)."""
    fields = "struct<" + ",".join(f"g{i}:string" for i in range(n)) + ">"

    def exploded_grams(frame, cols, col):
        toks = T.tokens(col)
        sz = F.size(toks)
        zipped = F.when(sz < n, F.array().cast(f"array<{fields}>")).otherwise(
            F.arrays_zip(*[F.slice(toks, 1 + i, sz - n + 1).alias(f"g{i}") for i in range(n)])
        )
        # array_distinct on the struct array = per-doc dedup with NO shuffle
        out = frame.select(*cols, F.explode_outer(F.array_distinct(zipped)).alias("_t"))
        ghash = F.when(
            F.col("_t").isNotNull(), F.xxhash64(*[F.col(f"_t.g{i}") for i in range(n)])
        )
        return out.select(*cols, ghash.alias("_g"))

    doc_grams = exploded_grams(docs, [id_col], F.col(text_col))
    probe_grams = (
        exploded_grams(probes.select(F.col(probe_text_col).alias("_pt")), [], F.col("_pt"))
        .filter(F.col("_g").isNotNull())
        .distinct()
    )
    if broadcast_probes:
        probe_grams = F.broadcast(probe_grams)
    hits = doc_grams.join(probe_grams.withColumn("_hit", F.lit(1)), "_g", "left")
    return hits.groupBy(id_col).agg(
        F.count(F.col("_g")).alias("n_ngrams"),
        F.count(F.col("_hit")).alias("contaminated_ngrams"),
        F.round(
            F.when(F.count(F.col("_g")) == 0, 0.0).otherwise(
                F.count(F.col("_hit")) / F.count(F.col("_g")).cast("double")
            ),
            6,
        ).alias("contamination_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene; regex-only so the whole pass stays
# JVM-side — model-based NER redaction would be a mapInPandas seam)
# ---------------------------------------------------------------------------

# Order matters: longer/more-specific patterns first so a partial match by a
# later pattern can't split an earlier one. Regexes use portable syntax
# (no lookbehind) so DuckDB's RE2 replays them verbatim in the oracle.
PII_PATTERNS: list[tuple[str, str]] = [
    # emails before bare domains
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # SSN-shaped 3-2-4 digit groups
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    # 13-16 digit card numbers with optional separators
    (r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{1,4}\b", "<CARD>"),
    # US/intl phone shapes: +1 (555) 123-4567 / 555-123-4567
    (r"\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b", "<PHONE>"),
    # IPv4
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None,
               patterns: list[tuple[str, str]] | None = None) -> DataFrame:
    """Scrub PII-shaped spans (emails, SSNs, card/phone numbers, IPs) from
    ``text_col`` with a chained native ``regexp_replace`` — one codegen'd
    projection, no shuffle, no Python. The pattern list is replaceable per
    deployment; model-based redaction plugs in as a mapInPandas stage."""
    c = F.col(text_col)
    for pat, repl in patterns or PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col or text_col, c)


def blocklist_match(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    lower: bool = True,
) -> DataFrame:
    """Multi-pattern substring matching against a large blocklist via a
    broadcast Aho-Corasick automaton (Aho & Corasick 1975) — the
    badword/policy-phrase scrub primitive at corpus scale. One corpus
    pass finds ALL occurrences (overlapping included — the AC standard)
    of EVERY phrase simultaneously: O(len(text) + matches) per document,
    INDEPENDENT of the blocklist size. That independence is the scale
    contract the existing regex paths cannot give: chained
    ``regexp_replace`` (redact_pii) costs one pass per pattern, and a
    single alternation regex degrades with pattern count and blows the
    regex compiler in the thousands. The automaton (goto/fail/output
    tables, O(total phrase chars) to build) is constructed once
    driver-side and broadcast inside the Arrow kernel closure.

    Returns one row per (document, phrase) WITH at least one match:
    (id_col, phrase, n_matches). ``lower=True`` folds both text and
    phrases to lowercase. Empty blocklists return an empty frame; empty
    phrases are rejected."""
    import pandas as pd

    from sycamore_spark.functions.partitioning import fan_out

    idt = df.schema[id_col].dataType.simpleString()
    schema = f"_id {idt}, phrase string, n_matches long"
    pats = [p.lower() if lower else p for p in phrases]
    if any(not p for p in pats):
        raise ValueError("blocklist phrases must be non-empty strings")
    if not pats:
        return df.sparkSession.createDataFrame([], schema).select(
            F.col("_id").alias(id_col), "phrase", "n_matches"
        )

    # goto/fail/output tables; output lists are merged through fail links
    # at build time so the scan never walks them
    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    for pi, p in enumerate(pats):
        node = 0
        for ch in p:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(pi)
    fail = [0] * len(goto)
    from collections import deque

    bfs = deque(goto[0].values())
    while bfs:
        node = bfs.popleft()
        for ch, nxt in goto[node].items():
            bfs.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != nxt else 0
            out[nxt] = out[nxt] + out[fail[nxt]]

    base = df.select(
        F.col(id_col).alias("_id"),
        (F.lower(F.col(text_col)) if lower else F.col(text_col)).alias("_t"),
    )
    # explicit broadcast: a 100k-phrase automaton is tens of MB — shipped
    # once per executor, not serialized into every task closure
    bc = df.sparkSession.sparkContext.broadcast((goto, fail, out, pats))

    def _scan(it):
        from collections import Counter

        bgoto, bfail, bout, bpats = bc.value
        for pdf in it:
            ids, phs, ns = [], [], []
            for rid, txt in zip(pdf["_id"], pdf["_t"]):
                if txt is None:
                    continue
                node = 0
                counts: Counter = Counter()
                for ch in txt:
                    while node and ch not in bgoto[node]:
                        node = bfail[node]
                    node = bgoto[node].get(ch, 0)
                    for pi in bout[node]:
                        counts[pi] += 1
                for pi, n in counts.items():
                    ids.append(rid)
                    phs.append(bpats[pi])
                    ns.append(n)
            yield pd.DataFrame({"_id": ids, "phrase": phs, "n_matches": ns})

    return fan_out(base).mapInPandas(_scan, schema=schema).select(
        F.col("_id").alias(id_col), "phrase", "n_matches"
    )


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 2,
    min_len: int = 10,
    out_col: str | None = None,
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate removal: a line whose trimmed form
    appears in more than ``max_docs`` DISTINCT documents is dropped from
    every document (navigation bars, cookie banners, footers). Lines
    shorter than ``min_len`` after trimming are always kept (blank lines
    and punctuation are not boilerplate evidence).

    Scale shape: explode to (doc, pos, line) -> one hash agg on the
    normalized line for distinct-doc counts -> anti-join the repeated-line
    set back (no broadcast hint: the boilerplate-line set is unbounded on a
    crawl-scale corpus, AQE broadcasts it only when it fits) -> reassemble
    per doc with one sort-free array_sort. The exploded path carries only
    (id, pos, line); passthrough columns are re-attached from the original
    df by id, so a NULL in a passthrough column can't break the regroup
    (equality-key grouping is null-unsafe in joins).
    """
    out_col = out_col or text_col
    other_cols = [c for c in df.columns if c not in (id_col, text_col)]

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_nline", F.trim(F.col("_line")))
    bad = (
        lines.filter(F.length(F.col("_nline")) >= min_len)
        .groupBy("_nline")
        .agg(F.countDistinct(F.col(id_col)).alias("_ndocs"))
        .filter(F.col("_ndocs") > max_docs)
        .select("_nline")
    )
    kept = lines.join(bad, "_nline", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_line")))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_rebuilt")
    )
    # docs whose every line was boilerplate still exist, with empty text
    drop_out = [out_col] if out_col in df.columns else []
    return (
        df.drop(*drop_out)
        .join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("_rebuilt"), F.lit("")))
        .drop("_rebuilt")
        .select(id_col, *other_cols, out_col)
    )


def quantile_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact per-group quantiles of a (quality/length/score) column — the
    numbers adaptive filtering thresholds come from. Uses Spark's exact
    ``percentile`` (bit-identical to DuckDB's ``quantile_cont``: same
    linear-interpolation definition, verified in the gate). One hash agg;
    at 100 TB switch to ``approx_percentile`` for one-pass sketching —
    same call shape, documented accuracy tradeoff."""
    # F.percentile (not an F.expr interpolation) so column names needing
    # backticks work; alias keeps the historical q5/q9/q99 form but maps any
    # residual '.' (e.g. q=1.0) to '_' so downstream selection never needs
    # quoting.
    aggs = [
        F.percentile(F.col(value_col), F.lit(q)).alias(
            "q" + str(q).replace("0.", "", 1).replace(".", "_")
        )
        for q in quantiles
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def filter_by_quantile(
    df: DataFrame,
    value_col: str,
    quantile: float,
    group_cols: list[str] | None = None,
    keep: str = "above",
) -> DataFrame:
    """Adaptive quality filter: keep rows whose ``value_col`` is above (or
    below) their group's ``quantile`` threshold — 'drop the worst 10% per
    source' without hand-tuned constants. Thresholds are one tiny agg
    broadcast back onto the stream; the data never reshuffles."""
    thr = quantile_stats(df, value_col, group_cols, (quantile,))
    tcol = [c for c in thr.columns if c.startswith("q")][-1]
    cmp_ok = F.col(value_col) >= F.col(tcol) if keep == "above" else F.col(value_col) <= F.col(tcol)
    if group_cols:
        out = df.join(F.broadcast(thr), group_cols, "inner").filter(cmp_ok)
    else:
        out = df.crossJoin(F.broadcast(thr)).filter(cmp_ok)
    return out.drop(tcol)


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Perplexity-proxy quality scoring WITHOUT an external model (the
    CCNet/KenLM role in a pretraining pipeline, self-trained on the
    corpus): a word-bigram language model with add-1 smoothing is fit from
    corpus counts, and each document is scored by its average bigram
    log-probability — gibberish and boilerplate-shuffled text score far
    below fluent text.

        logp(d) = sum over bigrams (w1,w2) of ln((c(w1,w2)+1)/(c(w1)+V))

    Per-bigram log-probs quantize to integer micros before the per-doc
    sum (the bm25 pattern — bigint addition is associative, so the result
    is partitioning-independent and bit-replayable in SQL).

    Returns (id, n_bigrams, logprob_micros, avg_logprob) for documents
    with at least one bigram.

    Plan shape: two corpus hash-aggs (bigram counts, unigram counts +
    vocabulary size) + one shuffle join of doc bigrams against the count
    tables + one per-doc agg. Nothing collects to the driver; the model
    IS a DataFrame.

    ``train_df`` (default: ``df`` itself — self-trained, the CCNet shape)
    fits the counts on a DIFFERENT corpus (a trusted holdout for RHO-loss
    selection, a clean reference for domain scoring): scoring bigrams
    unseen in training take the add-1 floor ``1/(c(w1)+V)`` with ``c = 0``
    via left joins + coalesce — when ``train_df`` is None every scoring
    bigram exists in training, so the result is identical to the
    historical inner-join form.
    """

    def _bigrams(frame: DataFrame) -> DataFrame:
        t = frame.select(
            F.col(id_col).alias("_id"),
            T.tokens(F.col(text_col)).alias("_ws"),
        )
        return t.select(
            "_id",
            F.explode(
                F.when(
                    F.size("_ws") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_ws") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("_ws"), i).alias("w1"),
                            F.element_at(F.col("_ws"), i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("bg"),
        ).select("_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    from sycamore_spark.functions.partitioning import lineage_cut

    bigrams = _bigrams(df)
    train_bigrams = bigrams if train_df is None else _bigrams(train_df)
    # ONE training pass: the distinct-bigram count table is the model's
    # sufficient statistic — context counts (sum of bigram counts by w1)
    # and vocabulary size (distinct words over the bigram KEYS) derive
    # from it without re-exploding the training corpus. Was three
    # independent explode+aggregate passes (big/uni/ctx); the cut is lazy
    # (first consumer materializes the bigram-vocabulary-sized table) and
    # the derived values are identical by construction (r14).
    big_counts = lineage_cut(
        train_bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cbig")),
        eager=False,
    )
    uni = big_counts.select(F.col("w1").alias("w")).union(
        big_counts.select("w2")
    )
    vocab = uni.agg(F.countDistinct("w").alias("_v"))
    ctx_counts = big_counts.groupBy("w1").agg(
        F.sum("_cbig").cast("long").alias("_cctx")
    )

    logp = F.log(
        (F.coalesce(F.col("_cbig"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("_cctx"), F.lit(0)) + F.col("_v").cast("double"))
    )
    # a zero-vocabulary model (empty train_df) defines no distribution:
    # score NULL rather than divide by zero (ANSI) — per-doc sums then
    # propagate NULL, matching the repo's empty-model contracts
    micros = F.when(
        F.col("_v") > 0,
        F.floor(logp * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
    )
    scored = (
        bigrams.join(big_counts, ["w1", "w2"], "left")
        .join(ctx_counts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_m", micros)
    )
    return (
        scored.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_m").alias("logprob_micros"),
        )
        .withColumn(
            "avg_logprob",
            F.col("logprob_micros").cast("double") / F.lit(1_000_000.0) / F.col("n_bigrams"),
        )
    )


def normalize_by_rank(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Percent-rank normalization of a score within each group — the
    cross-source calibration step before a global quality threshold
    (raw classifier scores aren't comparable across domains; their
    per-source percentile ranks are). percent_rank = (rank-1)/(n-1) with
    identical tie semantics in Spark and ANSI SQL, and the division of
    two small exact integers is the same IEEE double everywhere — so the
    normalized scores hash-match the oracle bit-for-bit. One window
    (= one shuffle on the group key; groups sort independently)."""
    from pyspark.sql.window import Window

    parts = [F.col(c) for c in (group_cols or [])]
    w = Window.partitionBy(*parts).orderBy(F.col(value_col).asc())
    return df.withColumn(out_col, F.percent_rank().over(w))


def clip_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize: clip ``value_col`` to its per-group [lower_q, upper_q]
    exact percentiles — the standard guard before feature scaling or
    quality-score aggregation (one wild value shouldn't move a mean).
    One threshold aggregate broadcast back; the data itself is not
    reshuffled. Spark exact ``percentile`` == DuckDB ``quantile_cont``
    bit-for-bit, so clipped values hash-match the oracle."""
    out_col = out_col or value_col
    gcols = group_cols or []
    thr = df.groupBy(*[F.col(c) for c in gcols]).agg(
        F.percentile(F.col(value_col), F.lit(lower_q)).alias("_lo"),
        F.percentile(F.col(value_col), F.lit(upper_q)).alias("_hi"),
    )
    joined = df.join(F.broadcast(thr), gcols) if gcols else df.crossJoin(F.broadcast(thr))
    clipped = F.least(F.greatest(F.col(value_col).cast("double"), F.col("_lo")), F.col("_hi"))
    drop = [out_col] if out_col in df.columns and out_col != value_col else []
    return joined.drop(*drop).withColumn(out_col, clipped).drop("_lo", "_hi")


def truncate_tokens(
    df: DataFrame,
    text_col: str,
    max_tokens: int,
    out_col: str | None = None,
    count_col: str | None = "n_tokens_kept",
) -> DataFrame:
    """Cut each document to its first ``max_tokens`` whitespace tokens —
    the context-budget truncation step before shard packing (token
    counting and slicing as native array ops; no Python). Documents under
    budget pass through unchanged (including their exact whitespace);
    over-budget docs are rebuilt space-joined."""
    out_col = out_col or text_col
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.least(F.size(toks), F.lit(max_tokens))
    truncated = F.when(
        F.size(toks) <= max_tokens, F.col(text_col)
    ).otherwise(F.array_join(F.slice(toks, 1, max_tokens), " "))
    base = df.drop(out_col) if out_col != text_col and out_col in df.columns else df
    out = base.withColumn(out_col, truncated)
    if count_col:
        out = out.withColumn(count_col, kept.cast("bigint"))
    return out


def bucket_by_quantiles(
    df: DataFrame,
    value_col: str,
    n_buckets: int,
    group_cols: list[str] | None = None,
    out_col: str = "qbucket",
) -> DataFrame:
    """Equi-depth bucket ids from EXACT percentile split points (the
    global, join-based twin of layout.quantile_bucket's ntile window):
    split points are one aggregate broadcast back, the bucket id is a
    sum of threshold comparisons — so the data is never reshuffled and
    the same splits can bucket OTHER tables (score calibration,
    curriculum tiers, zorder inputs). Ties at a split point go to the
    higher bucket (value < split). At 100 TB swap the exact percentile
    for the KLL sketch (operators/sketches.py) — same join shape."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    gcols = group_cols or []
    thr = df.groupBy(*[F.col(c) for c in gcols]).agg(
        *[
            F.percentile(F.col(value_col), F.lit(q)).alias(f"_q{i}")
            for i, q in enumerate(qs)
        ]
    )
    joined = df.join(F.broadcast(thr), gcols) if gcols else df.crossJoin(F.broadcast(thr))
    v = F.col(value_col).cast("double")
    bucket = sum(
        (F.when(v >= F.col(f"_q{i}"), 1).otherwise(0) for i in range(len(qs))),
        F.lit(0),
    ).cast("bigint")
    return joined.withColumn(out_col, bucket).drop(*[f"_q{i}" for i in range(len(qs))])


def pattern_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Per-document counts of named regex patterns (emails, URLs, IPs,
    phones by default) — the metadata-enrichment / risk-profiling twin of
    redact_pii: instead of scrubbing, it MEASURES, so per-source PII
    density can drive routing (redact vs drop vs keep). One codegen'd
    ``regexp_count`` projection per pattern — narrow, no Python.
    Portable regex subset (no lookbehind) so RE2 oracles replay it."""
    pats = patterns or {
        "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "urls": r"https?://[^\s]+",
        "ips": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "phones": r"\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b",
    }
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        *[F.regexp_count(c, F.lit(p)).cast("bigint").alias(name) for name, p in pats.items()],
    )


def script_ratios(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-script composition: fractions of Latin
    letters, CJK ideographs, digits, and whitespace — the script-mix
    signal behind mixed-language splitting, mojibake detection, and
    code-vs-prose routing. Unicode-class regexp counts are a single
    codegen'd projection; fractions are exact integer-over-integer IEEE
    divisions, identical on any engine with the same character classes.
    Returns (id, n_chars, latin_frac, cjk_frac, digit_frac, space_frac).
    """
    c = F.col(text_col)
    n = F.length(c)
    frac = lambda pat: F.when(  # noqa: E731
        n == 0, F.lit(0.0)
    ).otherwise(F.regexp_count(c, F.lit(pat)).cast("double") / n.cast("double"))
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_chars"),
        frac(r"[A-Za-z]").alias("latin_frac"),
        frac(r"[\x{4e00}-\x{9fff}]").alias("cjk_frac"),
        frac(r"[0-9]").alias("digit_frac"),
        frac(r"\s").alias("space_frac"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "token",
) -> DataFrame:
    """Per-document vocabulary coverage: what fraction of a doc's token
    OCCURRENCES fall outside a reference vocabulary — the OOV-rate check
    run before committing a tokenizer/vocab to a training corpus (high
    OOV sources either need vocab growth or are noise). Returns
    (id_col, n_tokens, n_oov, oov_frac).

    The vocabulary join is deliberately NOT broadcast: a corpus-derived
    vocab is itself corpus-sized vocabulary data (the ``tfidf`` shape,
    not the ``bm25`` query-vocabulary shape) — AQE upgrades to broadcast
    when a small hand-curated vocab actually fits. One explode + one
    left join on the token + one per-doc hash agg."""
    from sycamore_spark.functions import text as T

    toks = df.select(
        F.col(id_col), F.explode(T.tokens(F.col(text_col))).alias("_tok")
    )
    v = vocab.select(F.col(vocab_col).alias("_tok")).distinct().withColumn(
        "_in", F.lit(1)
    )
    j = toks.join(v, "_tok", "left")
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_frac",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top PMI collocations — the adjacent word pairs that co-occur far
    more than chance (pointwise mutual information), the standard
    phrase-mining / tokenizer-merge-candidate signal:

        pmi(w1,w2) = ln( c(w1,w2) · N / (c(w1) · c(w2)) )

    over corpus-wide adjacent-bigram counts, N = total bigram count.
    ``min_count`` drops the rare-pair PMI explosion (a hapax pair has
    maximal PMI by construction). Returns the global top_k by
    (pmi_micros desc, w1, w2): (w1, w2, pair_count, pmi_micros).

    Exactness: all counts are exact BIGINT hash aggregates; the single
    ``ln`` evaluates on an exact-integer ratio assembled in float64
    identically on any engine, then floors to micros (the lm_score
    precedent). Shapes: one explode + three hash aggs; the unigram join
    keys on words — corpus-vocabulary sized, deliberately NOT broadcast
    (AQE upgrades it when a small corpus fits)."""
    from sycamore_spark.functions import text as T

    # adjacent pairs via the array form — one pass, no positional self-join
    arr = df.select(T.tokens(F.col(text_col)).alias("_t"))
    pairs = arr.select(
        F.explode(
            F.when(
                F.size("_t") > 1,
                F.zip_with(
                    F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(1))),
                    F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            )
        ).alias("_pr")
    ).select(F.col("_pr.w1").alias("w1"), F.col("_pr.w2").alias("w2"))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    uni = (
        arr.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    n_pairs = pc.agg(F.sum("pair_count").alias("_n"))
    j = (
        pc.filter(F.col("pair_count") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("_c").alias("_c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("_c").alias("_c2")), "w2")
        .crossJoin(F.broadcast(n_pairs))
    )
    ratio = (
        F.col("pair_count").cast("double") * F.col("_n").cast("double")
        / (F.col("_c1").cast("double") * F.col("_c2").cast("double"))
    )
    pmi = F.floor(F.log(ratio) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    scored = j.select("w1", "w2", "pair_count", pmi.alias("pmi_micros"))
    # global top-k via orderBy+limit -> TakeOrderedAndProject (per-partition
    # top-k then a k-row merge on the driver), NOT an unpartitioned window
    # that would funnel every scored pair through one task
    return scored.orderBy(
        F.col("pmi_micros").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def zipf_stats(
    df: DataFrame,
    stratum: str,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Corpus-health statistics per stratum: vocabulary size, hapax ratio
    (types occurring once — high on noisy/OCR corpora, low on
    boilerplate-heavy ones), and the fitted Zipf slope — the least-squares
    slope of ln(frequency) against ln(rank) over the ``top_n`` most
    frequent terms (natural text sits near -1; spam/templated corpora
    deviate sharply). The triple every dataset card reports.

    Cross-engine bit-replay: ln(rank) and ln(count) quantize to integer
    MILLIS, so all regression sums (Sx, Sy, Sxy, Sxx) are exact bigints
    (top_n=1000 keeps n*Sxy well under 2^63) and the slope is one double
    division of exact integers. Rank ties break on the term string, so
    the top-n cut is deterministic in any engine.

    Scale shape: one (stratum, term) hash agg over the corpus (map-side
    combined), one per-stratum count agg for vocab/hapax, a per-stratum
    rank window over the already-aggregated term table, and a final
    stratum-row agg. The corpus shuffles once.
    """
    from pyspark.sql.window import Window

    from sycamore_spark.functions import text as T

    toks = df.select(
        F.col(stratum).alias("stratum"),
        F.explode(T.tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.col("_tok") != "")
    tf = toks.groupBy("stratum", "_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    vocab = tf.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("_cnt") == 1).cast("long")).alias("_hapax"),
    )
    rk = F.row_number().over(
        Window.partitionBy("stratum").orderBy(F.col("_cnt").desc(), F.col("_tok").asc())
    )
    millis = lambda c: F.floor(F.log(c) * F.lit(1000.0) + F.lit(0.5)).cast("long")  # noqa: E731
    top = (
        tf.withColumn("_rk", rk)
        .filter(F.col("_rk") <= int(top_n))
        .select(
            "stratum",
            millis(F.col("_rk").cast("double")).alias("_x"),
            millis(F.col("_cnt").cast("double")).alias("_y"),
        )
    )
    reg = top.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    slope = (
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
        / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    )
    return (
        vocab.join(reg, "stratum")
        .select(
            "stratum",
            "vocab_size",
            (F.col("_hapax").cast("double") / F.col("vocab_size")).alias("hapax_ratio"),
            slope.alias("zipf_slope"),
        )
    )


def paragraph_lm_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
    keep_quantile: float = 0.25,
    out_col: str = "clean_text",
) -> DataFrame:
    """CCNet-style PARAGRAPH-level quality filtering: instead of dropping
    whole documents on a bad perplexity score, each document is split
    into fixed ``window``-token segments, every segment is scored by the
    corpus-trained bigram LM (``ngram_lm_score``), and segments whose
    average log-probability falls below the corpus ``keep_quantile`` are
    cut — the boilerplate/gibberish stripping pass of the CCNet pipeline
    (Wenzek et al. 2020), at segment granularity because noise is local.

    Segments too short to score (fewer than 2 tokens — no bigram) are
    kept: they carry no fluency evidence. Returns the input ids plus
    (n_windows, n_kept, out_col) where ``out_col`` is the kept segments
    rejoined in order (whitespace-normalized lowercase, the ``T.tokens``
    contract). NULL or empty text yields one empty kept window
    (n_windows=1, n_kept=1, out_col='') — every input id appears in the
    output, matching the null contract of the sibling curation ops
    (e.g. remove_token_spans).

    Scale shape: the segment explode is linear; the LM fit is the
    ngram_lm_score corpus aggs; the threshold is ONE exact-percentile
    scalar broadcast back (at 100 TB switch to approx_percentile); the
    reassembly is one per-doc agg. Segment ids are (doc, idx) packed into
    one STRING key (id-type-agnostic — numeric, uuid, and string doc ids
    all work; a numeric pack would NULL out on non-numeric ids and
    silently disable the filter).
    """
    from sycamore_spark.functions import text as T

    P = int(window)
    # coalesce NULL text to '' so NULL-text rows survive (size(NULL) would
    # drop them at the explode); clamp nwin to >=1 so empty text yields one
    # empty window instead of hitting sequence(0,-1), which DESCENDS in
    # Spark (returns [0,-1]) and would emit two bogus windows
    toks = T.tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    nwin = F.greatest(F.ceil(F.col("_n") / F.lit(P)).cast("int"), F.lit(1))
    wins = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nwin - 1),
                lambda i: F.struct(
                    i.cast("long").alias("widx"),
                    F.array_join(F.slice(F.col("_t"), i * P + 1, P), " ").alias("wtext"),
                ),
            )
        ).alias("_w"),
    ).select(
        "_id",
        F.col("_w.widx").alias("_widx"),
        F.col("_w.wtext").alias("_wtext"),
        F.concat_ws("\x1f", F.col("_id").cast("string"), F.col("_w.widx").cast("string")).alias("_wid"),
    )
    # the window table feeds the LM fit (which references it several times),
    # the scoring join, and the reassembly — cut the lineage once so the
    # corpus explode doesn't re-execute per branch (the containment_lsh /
    # CDC-delta discipline)
    from sycamore_spark.functions.partitioning import lineage_cut

    wins = lineage_cut(wins)
    scored = ngram_lm_score(wins, id_col="_wid", text_col="_wtext").select(
        "_wid", "avg_logprob"
    )
    thresh = scored.agg(
        F.percentile(F.col("avg_logprob"), F.lit(float(keep_quantile))).alias("_thr")
    )
    tagged = (
        wins.join(scored, "_wid", "left")
        .crossJoin(F.broadcast(thresh))
        .withColumn(
            "_keep",
            F.col("avg_logprob").isNull() | (F.col("avg_logprob") >= F.col("_thr")),
        )
    )
    return (
        tagged.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_widx", "_wtext"))
                        )
                    ),
                    lambda s: s["_wtext"],
                ),
                " ",
            ).alias(out_col),
        )
    )
