"""Text-analysis operators for large-scale training-data pipelines.

All pure built-in column expressions (JVM-side, codegen'd): language id,
quality scoring, token counting, document fingerprinting. Designed to run
in the same scan as extraction output — no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..search.analysis import tokens_expr
from .dedup import _token_shingles

#: BPE-ish pre-tokenizer: letter runs | digit runs | punctuation runs —
#: the GPT-2-style split shape, RE2- and Java-regex-portable
BPE_ISH_PATTERN = r"[a-zа-яё]+|[0-9]+|[^a-zа-яё0-9\s]+"

#: tiny per-language stopword signatures for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "ru": ["и", "в", "не", "на", "что", "с", "по"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "fr": ["le", "la", "de", "et", "les", "des"],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count_expr(col: Column | str) -> Column:
    """Whitespace+punct token count (BPE-ish regex splitter)."""
    return F.size(tokens_expr(_col(col)))


def lang_id_expr(col: Column | str) -> Column:
    """Heuristic language id: Cyrillic ratio first, then stopword votes.

    Returns a language code string; 'und' when nothing matches.

    EXPRESSION SHAPE (r6): the natural CASE WHEN chain over per-language
    votes re-evaluates each vote (and the greatest() over all of them)
    inside every branch — conditionally-evaluated expressions are
    excluded from codegen subexpression elimination, so the chain cost
    ~25 token/intersect passes per row (measured 2.7 s vs 0.5 s over the
    sf0.1 paragraph stream). This form is branch-free and equivalent:
    one struct per language carries (-votes, dict_index, code), a
    sentinel ('und', index -1, 0 votes) loses to any language with a
    positive vote and wins all-zero ties, ``array_min`` picks the
    winner (votes desc, then dict order — the documented tie-break),
    and the Cyrillic rule selects via ``element_at`` over a 2-element
    array so every subexpression is unconditional and CSE collapses the
    five token-set copies into one. NULL input short-circuits to ''
    (→ 'und', as before).
    """
    c = _col(col)
    c2 = F.coalesce(c, F.lit(""))
    dt = F.array_distinct(tokens_expr(c2))
    entries = []
    for i, (lang, words) in enumerate(LANG_STOPWORDS.items()):
        v = F.size(
            F.array_intersect(dt, F.array(*[F.lit(w) for w in words]))
        )
        entries.append(
            F.struct(
                (-v).alias("nv"), F.lit(i).alias("ix"), F.lit(lang).alias("lang")
            )
        )
    entries.append(
        F.struct(
            F.lit(0).alias("nv"), F.lit(-1).alias("ix"), F.lit("und").alias("lang")
        )
    )
    best_lang = F.array_min(F.array(*entries))["lang"]
    cyr = F.length(F.regexp_replace(c2, "[^а-яёА-ЯЁ]", ""))
    is_ru = (cyr * 2 > F.length(c2)).cast("int")
    return F.element_at(F.array(best_lang, F.lit("ru")), F.lit(1) + is_ru)


def quality_metrics(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals.

    Returns named expressions; compose with ``df.select(**)`` or
    ``withColumns``. Ratios are int-count pairs where cross-engine float
    determinism matters (numerator, denominator), plus rounded floats.
    """
    c = _col(col)
    toks = tokens_expr(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(c, "[^.,;:!?]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    mean_word_len = F.when(
        n_tokens > 0,
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / n_tokens,
            4,
        ),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "mean_word_len": mean_word_len,
        "stopword_ratio": F.when(n_tokens > 0, F.round(n_stop / n_tokens, 4)).otherwise(
            F.lit(0.0)
        ),
    }


def fingerprint_expr(col: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the text (engine-portable)."""
    return F.md5(F.encode(_col(col), "utf-8"))


def rolling_fingerprints_expr(col: Column | str, window: int = 8) -> Column:
    """Rolling-hash document fingerprints: md5 over each ``window``-token
    shingle — the winnowing-style input set (min-sampled by callers).

    Inline/test form: prefer :func:`winnow_fingerprints` in pipelines (its
    staged projections keep the HOF lambdas on attributes)."""
    toks = tokens_expr(_col(col))
    n = F.size(toks)
    # guard shorter-than-window docs: sequence(1, 0) is a DESCENDING
    # array in Spark and its 0 start crashes F.slice — same landmine
    # winnow_fingerprints guards against (CaseWhen is lazily evaluated,
    # so the crashing branch never runs for short docs)
    return F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.md5(
                F.encode(F.concat_ws(" ", F.slice(toks, i, window)), "utf-8")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def whitespace_count_expr(col: Column | str) -> Column:
    """Plain whitespace token count (the cheap n_tokens estimate)."""
    return F.size(F.filter(F.split(_col(col), r"\s+"), lambda t: t != ""))


def bpe_ish_count_expr(col: Column | str) -> Column:
    """BPE-ish pre-tokenizer count: letter/digit/punct runs over the lowered
    text — the tokenizer-budget estimate a training pipeline bins on."""
    return F.size(F.regexp_extract_all(F.lower(_col(col)), F.lit(BPE_ISH_PATTERN), 0))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints: positional k-token shingle hashes
    → minimum of every ``window`` consecutive hashes → distinct set.

    The winnowing guarantee: any shared token run of length ≥ window +
    shingle_k − 1 contributes at least one common fingerprint, so
    fingerprint overlap detects partial/contained duplication that
    whole-document hashing misses — at a fixed ~2/(window+1) sampling rate.

    Returns (id, fingerprints array<string>). Plan shape: three staged
    projections (tokens → positional shingles → hashes → window minima) so
    every interpreted HOF lambda reads attributes, never re-evaluates an
    outer expression tree per element (see ops.dedup._shingles_of_tokens).
    Hashes are md5 hex strings (lexicographic minima — engine-portable,
    DuckDB-oracle-checkable).
    """
    toked = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks")
    )
    n = F.size(F.col("toks"))
    sh = toked.select(
        "id", _token_shingles(F.col("toks"), n, shingle_k).alias("sh")
    )
    hashed = sh.select(
        "id",
        F.size("sh").alias("n_sh"),  # second sh reference: keeps projection
        F.transform("sh", lambda s: F.md5(F.encode(s, "utf-8"))).alias("hs"),
    )
    n_sh, hs = F.col("n_sh"), F.col("hs")

    # window minima as a least-chain over shifted slices (pushdown-safe —
    # see _token_shingles; the slice-inside-lambda form re-evaluates hs per
    # window when an inferred explode filter inlines the chain)
    def hs_shifted(j: int):
        return F.slice(hs, j + 1, n_sh - window + 1)

    minima = hs_shifted(0)
    for j in range(1, window):
        minima = F.zip_with(minima, hs_shifted(j), lambda a, b: F.least(a, b))
    fps = F.when(n_sh >= window, F.array_distinct(minima)).otherwise(
        F.array_distinct(hs)
    )
    return hashed.select("id", fps.alias("fingerprints"))


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    integer-exact:

    * ``n_tokens`` / ``n_distinct_tok``    — type/token counts,
    * ``n_chars``                          — document characters,
    * ``n_bigrams`` / ``top_bigram_count`` — most-frequent-bigram mode,
    * ``top2_chars``/``top3_chars``/``top4_chars`` — characters covered by
      the most frequent 2/3/4-gram (occurrences × gram length; ties on
      count break toward larger coverage, deterministically),
    * ``n_lines``/``line_chars``/``dup_line_chars`` — characters inside
      lines that occur ≥2 times (every occurrence counted),
    * ``n_paras``/``para_chars``/``dup_para_chars`` — same over
      blank-line-separated paragraphs.

    A doc is repetition-spam when ``top{n}_chars / n_chars`` or
    ``dup_line_chars / line_chars`` is high (looped boilerplate) or the
    type/token ratio is very low. Counts stay integers so gate thresholds
    and the cross-engine oracle are exact. Staged projections (tokens →
    gram/line arrays → counts) keep every HOF lambda on attributes; the
    mode counts are O(distinct × n) per doc — fine for the ≤10³-token
    documents this targets (cap upstream for pathological rows).
    """
    toked = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        tokens_expr(F.col(text_col)).alias("toks"),
    )
    n = F.size(F.col("toks"))

    def grams(k: int):
        # pushdown-safe zip_with shingles (see _token_shingles — measured:
        # signals 0.8 s vs gate >540 s on the same 1000 docs with the
        # element_at-in-lambda form)
        return _token_shingles(F.col("toks"), n, k)

    arrays = toked.select(
        "id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tok"),
        F.length("text").alias("n_chars"),
        grams(2).alias("g2"),
        grams(3).alias("g3"),
        grams(4).alias("g4"),
        F.filter(F.split("text", "\n"), lambda x: x != "").alias("lines"),
        F.filter(F.split("text", "\n\n"), lambda x: x != "").alias("paras"),
    )

    zero = F.lit(0).cast("long")

    # PUSHDOWN-SAFE mode counts: single aggregate pass over the SORTED array
    # tracking the current equal-run — the lambdas reference only (acc,
    # element), never the outer array. A lambda that re-reads the outer
    # array (the filter-count-per-distinct formulation) turns O(n²) when a
    # downstream gate predicate is substituted into a pre-projection filter
    # (PushDownPredicate splits conjuncts and pushes the deterministic ones
    # through ANY deterministic projection — barriers don't survive
    # ColumnPruning). Sorted runs are also simply faster: O(n log n) vs
    # O(distinct·n) per document. Equal grams are adjacent after sort, so
    # the best (run, run·len) visited equals the (count, count·len)
    # lexicographic max over distinct values — the oracle's formulation.
    def top_gram(name: str):
        init = F.struct(
            F.lit("").alias("prev"),
            zero.alias("run"),
            zero.alias("cnt"),
            zero.alias("chars"),
        )

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            chars = run * F.length(x)
            better = (run > acc["cnt"]) | (
                (run == acc["cnt"]) & (chars > acc["chars"])
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.when(better, run).otherwise(acc["cnt"]).alias("cnt"),
                F.when(better, chars).otherwise(acc["chars"]).alias("chars"),
            )

        return F.aggregate(F.sort_array(F.col(name)), init, step)

    def total_chars(name: str):
        return F.aggregate(F.col(name), zero, lambda acc, x: acc + F.length(x))

    def dup_chars(name: str):
        # run of c equal values contributes c·len once c ≥ 2: add 2·len at
        # the second occurrence, then len for each further one
        init = F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("s"))

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            add = (
                F.when(run == 2, 2 * F.length(x))
                .when(run > 2, F.length(x))
                .otherwise(0)
            )
            return F.struct(
                x.alias("prev"), run.alias("run"), (acc["s"] + add).alias("s")
            )

        return F.aggregate(
            F.sort_array(F.col(name)), init, step, lambda acc: acc["s"]
        )

    t2, t3, t4 = top_gram("g2"), top_gram("g3"), top_gram("g4")
    return arrays.select(
        "id",
        "n_tokens",
        "n_distinct_tok",
        "n_chars",
        F.size("g2").alias("n_bigrams"),
        F.coalesce(t2["cnt"], zero).alias("top_bigram_count"),
        F.coalesce(t2["chars"], zero).alias("top2_chars"),
        F.coalesce(t3["chars"], zero).alias("top3_chars"),
        F.coalesce(t4["chars"], zero).alias("top4_chars"),
        F.size("lines").alias("n_lines"),
        total_chars("lines").alias("line_chars"),
        dup_chars("lines").alias("dup_line_chars"),
        F.size("paras").alias("n_paras"),
        total_chars("paras").alias("para_chars"),
        dup_chars("paras").alias("dup_para_chars"),
    )


#: Gopher repetition caps (Rae et al. 2021, Table A1), in integer percent:
#: max fraction of characters in the top 2/3/4-gram, and in duplicate
#: lines / paragraphs
GOPHER_REPETITION_CAPS = {
    "top2": 20,
    "top3": 18,
    "top4": 16,
    "dup_line": 20,
    "dup_para": 20,
}


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    signals: DataFrame | None = None,
) -> DataFrame:
    """The composed Gopher repetition GATE: documents surviving every
    repetition cap (:data:`GOPHER_REPETITION_CAPS`) over the
    :func:`repetition_signals` columns. Predicates are integer
    cross-multiplications (``chars·100 ≤ total·cap``) so the gate is exact
    in any engine — no float thresholds. Returns (id) of survivors.

    Cost note: Catalyst substitutes the cap predicates into a scan-level
    filter, so each referenced signal's producer chain re-evaluates inside
    the predicate (bounded and linear — the sorted-run aggregates are
    pushdown-safe by construction; measured 217 s for 100k long docs at
    local[32]). At production scale pass ``signals=`` a MATERIALIZED
    :func:`repetition_signals` table (compute-once-on-write, like the
    postings table): the gate is then a plain column filter over stored
    integers — no text is touched."""
    c = GOPHER_REPETITION_CAPS
    sig = signals if signals is not None else repetition_signals(df, id_col, text_col)
    # The gate predicates get substituted down through the signals
    # projections by PushDownPredicate (conjunct-split, so projection
    # barriers don't help) — safe ONLY because every repetition aggregate is
    # the pushdown-safe sorted-run form (see top_gram in
    # repetition_signals): inlining costs a constant re-evaluation factor,
    # never a per-element blowup.
    keep = (
        (F.col("top2_chars") * 100 <= F.col("n_chars") * c["top2"])
        & (F.col("top3_chars") * 100 <= F.col("n_chars") * c["top3"])
        & (F.col("top4_chars") * 100 <= F.col("n_chars") * c["top4"])
        & (F.col("dup_line_chars") * 100 <= F.col("line_chars") * c["dup_line"])
        & (F.col("dup_para_chars") * 100 <= F.col("para_chars") * c["dup_para"])
    )
    return sig.filter(keep).select("id")


def winnow_fingerprint_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Positional winnowing: like :func:`winnow_fingerprints` but every
    window minimum keeps the TOKEN POSITION of its minimal shingle (1-based
    start index, first occurrence within the window — deterministic in both
    engines via array_position/list_position).

    Returns (id, toks, fps array<struct<fp:string, pos:int>>) — the input
    to span-level dedup, where a shared fingerprint pinpoints WHERE the
    shared run sits in each document, not just that it exists.
    """
    toked = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks")
    )
    n = F.size(F.col("toks"))
    sh = toked.select(
        "id", "toks", _token_shingles(F.col("toks"), n, shingle_k).alias("sh")
    )
    hashed = sh.select(
        "id",
        "toks",
        F.size("sh").alias("n_sh"),
        F.transform("sh", lambda s: F.md5(F.encode(s, "utf-8"))).alias("hs"),
    )
    n_sh, hs = F.col("n_sh"), F.col("hs")

    # argmin-with-position as a struct-min zip chain (pushdown-safe — no
    # outer-array reference inside any lambda; see _token_shingles). Keeping
    # the LEFT struct on fp ties preserves the first-occurrence-of-min
    # position, matching array_position semantics.
    def with_pos(j: int):
        return F.transform(
            F.slice(hs, j + 1, n_sh - window + 1),
            lambda h, i: F.struct(
                h.alias("fp"), (i + 1 + j).cast("int").alias("pos")
            ),
        )

    minima = with_pos(0)
    for j in range(1, window):
        minima = F.zip_with(
            minima,
            with_pos(j),
            lambda a, b: F.when(b["fp"] < a["fp"], b).otherwise(a),
        )
    # short docs: every shingle hash is its own fingerprint
    fallback = F.transform(
        hs, lambda h, i: F.struct(h.alias("fp"), (i + 1).cast("int").alias("pos"))
    )
    fps = F.when(n_sh >= window, minima).otherwise(fallback)
    return hashed.select("id", "toks", fps.alias("fps"))


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    shingle_k: int = 3,
    window: int = 4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Passage-level (exact-substring-style) deduplication, Lee et al. 2021
    \"Deduplicating Training Data Makes Language Models Better\" shape: the
    winnowing-fingerprint analogue of suffix-array substring dedup. Where
    doc-level near-dedup drops whole documents, this removes only the
    DUPLICATED PASSAGE from the later (larger-id) document and keeps the
    rest.

    Pipeline: positional winnowing fingerprints → fingerprint posting
    self-join (candidate pairs) → pairs verified by ≥ ``min_shared`` shared
    distinct fingerprints → every b-side occurrence of a shared fingerprint
    marks its shingle's token range [pos, pos+shingle_k-1] for removal →
    tokens outside every marked range are rejoined.

    Returns one row per input row: (id, n_tokens, n_dropped, kept_text).
    Scale shape: the only shuffles are the posting join on fp (same shape
    as LSH bucket joins — ``max_doc_freq`` diverts hot boilerplate
    fingerprints via :func:`hot_fingerprint_filter` before the join), the
    pair aggregate, and the drop-list aggregate; reconstruction is pure
    column work. No quadratic stage.
    """
    # wp feeds BOTH the posting join and the final reconstruction join,
    # and shared_occ feeds both the verify aggregate and the drop list —
    # materialize each once (the plan otherwise re-runs the winnowing
    # ~3x and the posting join 2x; measured 2.26 -> 1.92 s at sf0.1, r6).
    # At cluster scale this is the standard compute-once-vs-recompute
    # trade for a twice-consumed intermediate.
    wp = winnow_fingerprint_positions(
        df, id_col, text_col, shingle_k, window
    ).localCheckpoint()
    flat = wp.select("id", F.explode("fps").alias("f")).select(
        "id", F.col("f.fp").alias("fp"), F.col("f.pos").alias("pos")
    )
    flat = hot_fingerprint_filter(flat, "fp", max_doc_freq)
    # one a-side row per (doc, fp) — a fingerprint repeated at many
    # positions WITHIN one doc must not multiply the posting join rows
    # (the within-doc analogue of the cross-doc hot-fp guard above)
    a = flat.select(F.col("id").alias("a_id"), F.col("fp").alias("fp")).dropDuplicates(
        ["a_id", "fp"]
    )
    b = flat.select(
        F.col("id").alias("b_id"), F.col("fp").alias("fp"), F.col("pos").alias("b_pos")
    )
    shared_occ = (
        a.join(b, ["fp"]).filter(F.col("a_id") < F.col("b_id")).localCheckpoint()
    )
    verified = (
        shared_occ.groupBy("a_id", "b_id")
        .agg(F.count_distinct("fp").alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("a_id", "b_id")
    )
    drops = (
        shared_occ.join(verified, ["a_id", "b_id"], "left_semi")
        .select(F.col("b_id").alias("id"), F.col("b_pos").alias("pos"))
        .groupBy("id")
        .agg(F.collect_set("pos").alias("drop_starts"))
    )
    joined = wp.join(drops, "id", "left").select(
        "id",
        "toks",
        F.coalesce(F.col("drop_starts"), F.array().cast("array<int>")).alias("drops"),
    )
    toks, dr = F.col("toks"), F.col("drops")
    # guard: sequence(1, 0) would be a *descending* sequence on empty docs
    keep_idx = F.when(
        F.size(toks) >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: ~F.exists(dr, lambda s: (i >= s) & (i <= s + shingle_k - 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    staged = joined.select(
        "id",
        F.size(toks).alias("n_tokens"),
        F.transform(keep_idx, lambda i: F.element_at(toks, i)).alias("kept_toks"),
    )
    return staged.select(
        "id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept_toks")).alias("n_dropped"),
        F.array_join("kept_toks", " ").alias("kept_text"),
    )


def hot_fingerprint_filter(
    flat: DataFrame, fp_col: str = "fp", max_doc_freq: int | None = None
) -> DataFrame:
    """Boilerplate guard for fingerprint posting joins: drop fingerprints
    whose document frequency exceeds ``max_doc_freq`` before the self-join.

    A shared header/footer fingerprint across B documents contributes B²
    rows to the posting join — the same mega-bucket pathology as LSH
    buckets (``ops.dedup.lsh_candidate_pairs``). Hot fps are rare by
    definition, so the BAD set is broadcast and anti-joined. Documents
    sharing ONLY boilerplate stop pairing; that is the point — boilerplate
    is not duplication evidence.
    """
    if max_doc_freq is None:
        return flat
    hot = (
        flat.groupBy(fp_col)
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select(fp_col)
    )
    return flat.join(F.broadcast(hot), [fp_col], "left_anti")


def winnow_partial_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    shingle_k: int = 3,
    window: int = 4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Partial/contained-duplication candidates: document pairs sharing at
    least ``min_shared`` winnowing fingerprints — catches a plagiarized
    paragraph inside an otherwise-different document, which whole-document
    MinHash misses (Jaccard dilutes with document length).

    Scale shape: the fingerprint posting join — explode fingerprints, hash
    self-join on fp (shuffle keyed on fingerprint, O(matches) work), count
    shared per pair. Common-substring boilerplate creates hot fingerprints;
    ``max_doc_freq`` diverts them before the join
    (:func:`hot_fingerprint_filter` — the winnowing analogue of the LSH
    mega-bucket guard).

    Returns (a_id, b_id, shared) with a_id < b_id.
    """
    w = winnow_fingerprints(df, id_col, text_col, shingle_k, window)
    flat = w.select("id", F.explode("fingerprints").alias("fp"))
    flat = hot_fingerprint_filter(flat, "fp", max_doc_freq)
    a, b = flat.alias("a"), flat.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def grouped_percentiles(
    df,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
):
    """Exact per-group percentiles of a numeric column — the corpus
    length/quality profile a mixing recipe is tuned against.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation at
    rank (n-1)·p — the same definition as DuckDB ``quantile_cont`` and
    numpy 'linear', so oracles match bit-for-bit including float
    artifacts). Exact percentile holds all group values per partition
    during the aggregate; at true corpus scale swap in
    ``approx_percentile`` with a stated error bound — same call shape,
    documented trade (the oracle then checks the exact twin only at
    test scale).
    """
    agg = F.percentile(value_col, list(probs)).alias("__q")
    out = df.groupBy(group_col).agg(agg, F.count("*").alias("n"))
    cols = [F.col(group_col), F.col("n")] + [
        F.col("__q")[i].alias(f"p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return out.select(*cols)


def corpus_data_card(
    df: DataFrame,
    dims: list[str],
    measures: dict[str, Column],
) -> DataFrame:
    """Corpus data card: measure totals over CUBE(dims) — every dimension
    combination plus all subtotals and the grand total, in ONE pass.

    The release-report table of a training-data pipeline (docs / tokens /
    bytes by language × split × source ...). CUBE expands each input row
    into its 2^|dims| grouping-set keys during the partial (map-side)
    aggregate, so the job is a single shuffle of pre-aggregated cells —
    NOT one job per breakdown; at 100 TB that turns 2^d table scans into
    one. Subtotal rows carry NULL in the rolled-up dimension (the same
    convention DuckDB/ANSI ``GROUP BY CUBE`` uses, so oracles match);
    dimension columns must therefore be non-null in ``df``.

    ``measures`` maps output column name → aggregate Column; a ``docs``
    row count is always included first.
    """
    aggs = [F.count("*").alias("docs")] + [
        expr.alias(name) for name, expr in measures.items()
    ]
    return df.cube(*dims).agg(*aggs)


def paragraph_lang_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document language mixture over blank-line paragraphs — the
    mixed-language-document signal (a page that is 70% English and 30%
    boilerplate in another language is a standard filter/segment target
    in multilingual corpus prep; fastText-style per-paragraph LID is how
    CCNet and mC4 segment pages).

    Splits on the literal ``\\n\\n`` paragraph convention of
    ``ops.lines.remove_duplicate_paragraphs``, tags each non-empty
    paragraph with :func:`lang_id_expr`, and reports per document:
    (id, n_paras, majority_lang, majority_paras, minority_ppm) where
    ``minority_ppm`` is the floored parts-per-million of paragraphs NOT
    in the majority language. Majority ties break on language code
    (ascending), so the result is deterministic.

    Scale shape: explode → map-side lang tag (codegen'd regexp +
    array_intersect votes, no UDF) → (id, lang) pair counts → ONE more
    keyed aggregation on id where the majority is a min-of-struct
    ((-count, lang) — count DESC then lang ASC, the documented
    tie-break) — no per-id window, no self-join, both shuffles
    partial-agg-combined. Documents whose every paragraph is empty (or
    empty text) produce no row, like the upstream paragraph ops.
    """
    import re as _re

    paras = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape("\n\n"), -1)
        ).alias("para"),
    ).filter(F.length("para") > 0)
    counts = (
        paras.select("id", lang_id_expr(F.col("para")).alias("plang"))
        .groupBy("id", "plang")
        .agg(F.count("*").alias("c"))
    )
    agg = counts.groupBy("id").agg(
        F.sum("c").alias("n_paras"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("plang"))).alias("__m"),
    )
    return agg.select(
        "id",
        "n_paras",
        F.col("__m.plang").alias("majority_lang"),
        (-F.col("__m.nc")).alias("majority_paras"),
        F.floor(
            (F.col("n_paras") + F.col("__m.nc"))
            * 1_000_000
            / F.col("n_paras")
        )
        .cast("long")
        .alias("minority_ppm"),
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """The inner statistic of BPE tokenizer training: corpus frequency of
    every ADJACENT SYMBOL PAIR inside words, weighted by word frequency —
    the quantity a BPE trainer maximises at each merge step (Sennrich et
    al. 2016). Returns the ``top_k`` pairs: (a, b, pair_count, rnk),
    ranked by count desc then (a, b) — the rank-1 row IS the first merge
    a BPE trainer would learn on this corpus.

    Scale shape — the optimization real BPE trainers rely on, made
    distributed: pair counting runs over the DISTINCT-WORD table
    weighted by word counts, never over the token stream. Shuffle 1
    aggregates word counts (map-side combinable, vocab-sized output);
    the per-word character-pair explode then touches each distinct word
    once (fan-out = word length, bounded); shuffle 2 aggregates
    ``sum(word_count)`` per pair (combinable, |alphabet|² keys). A
    100-TB corpus with a 10^8-word vocabulary costs two small shuffles
    after one scan. Iterating merges re-runs this on a re-segmented
    vocab table (driver loop, vocab-sized state) — this operator is the
    per-iteration workhorse.

    Single-character words contribute no pairs; token convention is the
    shared ``tokens_expr`` (so counts line up with every other text
    statistic in the repo).
    """
    words = (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    # adjacent char pairs of each distinct word; guard length-1 words
    # (sequence(1, 0) would generate a DESCENDING range, not empty).
    # SQL-expr form because F.substring takes only literal positions.
    pair_arr = F.when(
        F.length("w") > 1,
        F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"
        ),
    ).otherwise(
        F.expr(
            "CAST(array() AS array<struct<a:string, b:string>>)"
        )
    )
    pairs = words.select("wc", F.explode(pair_arr).alias("p"))
    counts = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").alias("pair_count"))
    )
    order = [F.col("pair_count").desc(), F.col("a"), F.col("b")]
    top = counts.orderBy(*order).limit(int(top_k))
    from pyspark.sql import Window

    # row-bound: `top` is the already-truncated top-k slice (<= top_k rows)
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order)))


#: adjacent symbol pairs of a space-joined segmentation — shared by the
#: count and the plan test; guards the size-1 case (sequence(1, 0) would
#: generate a DESCENDING range, not an empty one).
_BPE_PAIRS_EXPR = (
    "CASE WHEN size(__syms) > 1 THEN "
    "transform(sequence(1, size(__syms) - 1), "
    "i -> struct(element_at(__syms, i) AS l, element_at(__syms, i + 1) AS r)) "
    "ELSE CAST(array() AS array<struct<l:string, r:string>>) END"
)

#: left-to-right non-overlapping application of one merge (l, r) to a
#: space-joined segmentation: fold symbols into a string accumulator; when
#: the accumulator's LAST symbol is l and the next symbol is r, replace
#: the trailing l with the fused symbol. Overlap safety is structural —
#: after a fusion the trailing symbol is l||r, which no longer equals l
#: (BPE symbols ARE their strings, so textual equality is symbol
#: identity). Pure built-ins: stays inside codegen, no UDF.
_BPE_APPLY_EXPR = (
    "aggregate(slice(__syms, 2, greatest(size(__syms) - 1, 0)), "
    "element_at(__syms, 1), "
    "(acc, x) -> CASE WHEN x = __r AND (acc = __l "
    "OR right(acc, length(__l) + 1) = concat(' ', __l)) "
    "THEN concat(left(acc, length(acc) - length(__l)), __l, __r) "
    "ELSE concat(acc, ' ', x) END)"
)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Train the first ``n_merges`` BPE merges on a corpus (Sennrich et
    al. 2016): returns (step, l, r, merged, pair_count) — the ordered
    merge table a BPE tokenizer ships. Completes the driver loop that
    :func:`bpe_pair_stats` (the single-round statistic) documents as the
    per-iteration workhorse: each round takes the globally most frequent
    adjacent symbol pair (ties broken (l, r) ascending — deterministic
    across engines, binary collation both sides) and re-segments the
    vocabulary with it. Initial symbols are single characters of the
    shared ``tokens_expr`` word convention; no end-of-word marker.

    Scale shape — the optimization real BPE trainers rely on, made
    distributed: ONE corpus scan builds the distinct-word frequency
    table (map-side combinable groupBy, vocab-sized: ~10^8 rows at
    100 TB by Heaps' law); every merge round after that touches only
    the vocab table. Per round: pair explode (fan-out = word length) →
    map-side-combined groupBy(l, r) — one small shuffle over
    |alphabet ∪ merges|²-bounded keys → orderBy().limit(1) (TakeOrdered,
    no full sort) → broadcast 1-row crossJoin applies the merge as a
    codegen'd string fold (no UDF, no Python). The vocab is
    ``localCheckpoint``-ed every round — the ops.dedup CC discipline —
    so round k's plan never re-derives rounds 0..k-1 (same
    recompute-on-executor-loss caveat; trivial, the state is
    vocab-sized). Stops early if no pair remains (fully fused corpus).
    """
    spark = df.sparkSession
    out_schema = (
        "step INT NOT NULL, l STRING, r STRING, merged STRING, "
        "pair_count BIGINT"
    )
    _, steps = _bpe_loop(df, text_col, n_merges)
    return _values_steps_df(
        spark, steps, "step, l, r, merged, pair_count", out_schema
    ).orderBy("step")


#: re-checkpoint cadence for the tokenizer training loops: the 1-row
#: winner is collected per round and re-applied as a LITERAL codegen'd
#: fold, so the vocab only needs a localCheckpoint every few rounds to
#: bound plan depth — per-round job count drops from 2 (winner
#: checkpoint + vocab checkpoint) to 1 (the winner collect), which is
#: the dominant cost of the loop at any scale (each job is a full
#: cluster barrier; the un-checkpointed folds are vocab-sized string
#: projections, far cheaper than a materialization pass).
_MERGE_CKPT_EVERY = 4


def _sql_str(v: str) -> str:
    """SQL string literal of a tokenizer symbol (tokens are word chars by
    the shared TOKEN_PATTERN; quotes/backslashes escaped defensively)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"


def _values_steps_df(spark, rows, cols_sql: str, empty_schema: str) -> DataFrame:
    """A JVM-local (LocalRelation) steps table from driver-collected
    winner rows — collect/union of these is plan-time work, no Python-RDD
    scan and no per-row job (createDataFrame would be RDD-backed)."""
    if not rows:
        return spark.createDataFrame([], empty_schema)
    vals = ", ".join(
        "(" + ", ".join(
            _sql_str(v) if isinstance(v, str) else f"{int(v)}L"
            if i in (4, 5, 6, 7) else str(int(v))
            for i, v in enumerate(r)
        ) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({cols_sql})")


def _apply_merge_literal(vocab: DataFrame, l: str, r: str) -> DataFrame:
    """Re-segment a (wc, s) vocab state with ONE merge (l, r) bound as
    SQL literals — the :func:`bpe_apply` fold, shared by the training
    loops so the 1-row winner never needs a crossJoin/broadcast."""
    ln, rn = l.replace("'", "''"), r.replace("'", "''")
    fold = (
        _BPE_APPLY_EXPR.replace("__syms", "__s_arr")
        .replace("__l", f"'{ln}'")
        .replace("__r", f"'{rn}'")
    )
    return vocab.select("wc", F.split("s", " ").alias("__s_arr")).select(
        "wc", F.expr(fold).alias("s")
    )


def _bpe_loop(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, list[tuple]]:
    """The shared BPE driver loop: returns the final re-segmented vocab
    (wc, s) and the per-step winner rows (step, l, r, merged,
    pair_count) as plain driver tuples — exactly the artifact a BPE
    trainer ships; consumers embed them as literal local relations
    (:func:`_values_steps_df`) or use them directly, for free.

    Per round this costs ONE job (the winner TakeOrdered collect); the
    winner is re-applied as a literal codegen'd fold and the vocab is
    localCheckpoint-ed every :data:`_MERGE_CKPT_EVERY` rounds to bound
    plan depth (the bpe_apply convention)."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    vocab = words.select(
        "wc",
        F.expr(
            "array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ' ')"
        ).alias("s"),
    ).localCheckpoint()
    steps: list[tuple] = []
    pending = 0
    for step in range(1, int(n_merges) + 1):
        counts = (
            vocab.select("wc", F.split("s", " ").alias("__syms"))
            .select("wc", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.l").alias("__l"), F.col("p.r").alias("__r"))
            .agg(F.sum("wc").alias("__cnt"))
        )
        rows = (
            counts.orderBy(F.col("__cnt").desc(), "__l", "__r")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        b = rows[0]
        steps.append(
            (step, b["__l"], b["__r"], b["__l"] + b["__r"], int(b["__cnt"]))
        )
        vocab = _apply_merge_literal(vocab, b["__l"], b["__r"])
        pending += 1
        if pending >= _MERGE_CKPT_EVERY:
            vocab = vocab.localCheckpoint()
            pending = 0
    return vocab, steps


def _seg_map(vocab: DataFrame, with_count: bool = False) -> DataFrame:
    """Word→segmentation map read off a trained ``_bpe_loop`` vocab state:
    strip the segmentation's spaces back into the word key (BPE symbols
    are substrings of the word, so the space-free concat IS the word —
    the invariant every encode-side consumer relies on, asserted here
    once). ``with_count`` swaps the symbol array for its length
    (the fertility/packing budget column)."""
    payload = (
        F.size(F.split("s", " ")).cast("long").alias("__ns")
        if with_count
        else F.split("s", " ").alias("__syms")
    )
    return vocab.select(
        F.regexp_replace(F.col("s"), " ", "").alias("w"), payload
    )


def bpe_vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    top_k: int = 50,
) -> DataFrame:
    """Vocabulary-utilization report of the TRAINED segmentation: after
    ``n_merges`` BPE rounds (same loop as :func:`bpe_train`), the
    ``top_k`` symbols by corpus occurrence — (symbol, sym_count, rnk),
    ranked count desc then symbol. This is the tokenizer-eval statistic
    that decides whether another 10k merges are worth training: which
    learned symbols actually carry corpus mass, and how much of the
    stream is still single characters. Computed over the exact vocab
    state the training loop produced (not a re-encode — so the numbers
    are the trainer's own, with no encode-order ambiguity).

    Scale shape: everything :func:`bpe_train` costs, plus ONE more
    vocab-sized pass — explode the final segmentation (fan-out = symbols
    per word, shrinking as merges land) into a map-side-combined
    groupBy(symbol) and a TakeOrdered top-k. No UDF anywhere.
    """
    vocab, _ = _bpe_loop(df, text_col, n_merges)
    counts = (
        vocab.select("wc", F.explode(F.split("s", " ")).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("wc").alias("sym_count"))
    )
    order = [F.col("sym_count").desc(), F.col("symbol")]
    top = counts.orderBy(*order).limit(int(top_k))
    from pyspark.sql import Window

    # row-bound: `top` is the already-truncated top-n slice (<= n rows)
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order)))


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    k-token shingles that appear in NO other document — the curation
    signal that separates genuinely novel text from remixes of corpus
    boilerplate (and, inverted, flags memorization-prone duplicates that
    per-doc dedup missed). Returns (id, n_shingles, n_novel,
    novelty_ppm) with floored integer ppm; documents with fewer than k
    tokens report 0 shingles and NULL novelty (nothing to judge).

    Scale shape: shingle explode → document-frequency count (map-side
    combinable, keyed by shingle md5 — the distinct-shingle table, same
    volume as every LSH/minhash pass in ops/dedup.py) → join back on the
    shingle key → per-doc counts (one shuffle keyed by id). No UDF, no
    all-pairs anything; the df table is the reusable asset (the same
    table drives the C4/Dolma boilerplate passes).
    """
    from .dedup import _with_shingles

    sh = _with_shingles(df, id_col, text_col, k)
    exploded = sh.select("id", F.explode("sh").alias("s")).select(
        "id", F.md5(F.col("s")).alias("s_md5")
    )
    dfreq = exploded.groupBy("s_md5").agg(
        F.count_distinct("id").alias("__df")
    )
    per_doc = (
        exploded.join(dfreq, "s_md5")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.when(
            F.coalesce("n_shingles", F.lit(0)) > 0,
            F.floor(
                F.col("n_novel") * 1_000_000 / F.col("n_shingles")
            ).cast("long"),
        ).alias("novelty_ppm"),
    )


def bpe_encode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Encode the corpus with a freshly trained BPE merge table — the
    apply side that completes the :func:`bpe_train` lifecycle (train →
    encode → ship token ids). Returns one row per emitted symbol:
    (id, pos, sym_pos, token_id, symbol), where ``pos`` is the word's
    0-based position in the document token stream and ``sym_pos`` the
    symbol's 0-based position inside the word. ``token_id`` follows the
    shipped-tokenizer vocab convention: initial characters (sorted,
    binary collation) take ids 0..A-1, merge k takes A+k-1; if a later
    merge reproduces an existing symbol string the FIRST id wins
    (min-id dedup, the vocab-file rule). Word convention is the shared
    ``tokens_expr``; unseen words cannot occur because the merge table
    is trained on the same corpus.

    Scale shape: training costs exactly :func:`bpe_train`; the encode
    adds (1) a vocab-sized word→segmentation map derived from the
    trained vocab state itself (strip the segmentation's spaces back
    into the word key — zero extra corpus passes, and NO re-running of
    the merge fold at encode time), (2) ONE corpus tokenize/posexplode
    pass equi-joined to that map on the word key — AQE broadcasts it
    whenever the vocab fits (always at bench scale; a 10^8-word vocab
    at 100 TB is a few GB, where the shuffle-hash join on the word key
    is the honest cost of distributed tokenization), and (3) a
    broadcast |alphabet|+K-row symbol→id map. No UDF anywhere; per-word
    work after the join is one split + posexplode.
    """
    vocab, steps = _bpe_loop(df, text_col, n_merges)
    seg = _seg_map(vocab)
    # alphabet from the vocab's own word strings (vocab-sized pass, not a
    # corpus pass); ids are dense ranks in sorted order — the tiny global
    # window is |alphabet|-sized, never corpus-sized
    from pyspark.sql import Window

    alpha = (
        seg.select(
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("symbol")
        )
        .distinct()
        .withColumn(
            "token_id",
            # row-bound: the alphabet+merges symbol table (vocab-sized)
            (F.row_number().over(Window.orderBy("symbol")) - 1).cast("int"),
        )
    )
    id_map = alpha
    if steps:
        merges = _values_steps_df(
            df.sparkSession, steps, "step, l, r, merged, pair_count",
            "step int, l string, r string, merged string, pair_count bigint",
        )
        n_alpha = alpha.agg(F.count("*").alias("__na"))
        merge_ids = merges.crossJoin(F.broadcast(n_alpha)).select(
            F.col("merged").alias("symbol"),
            (F.col("__na") + F.col("step") - 1).cast("int").alias("token_id"),
        )
        id_map = alpha.unionByName(merge_ids)
    id_map = id_map.groupBy("symbol").agg(F.min("token_id").alias("token_id"))
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    ).selectExpr("id", "posexplode(__toks) AS (pos, w)")
    return (
        toks.join(seg, "w")
        .selectExpr("id", "pos", "posexplode(__syms) AS (sym_pos, symbol)")
        .join(F.broadcast(id_map), "symbol")
        .select("id", "pos", "sym_pos", "token_id", "symbol")
    )


def bpe_fertility_by_lang(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Tokenizer fertility per language: after ``n_merges`` BPE rounds
    trained on the WHOLE corpus, the per-language encoded cost —
    (lang, docs, words, symbols, fertility_ppm), fertility_ppm =
    floor(symbols·10⁶/words) (millionths of a symbol per word). The
    multilingual tokenizer-equity metric: a shared vocab trained on a
    skewed language mix over-segments the minority languages, and this
    report shows the damage per language BEFORE a training run pays for
    it. ``lang_col`` is whatever language label the table carries; pipe
    :func:`lang_id_expr` output in first when there is none.

    Scale shape: :func:`bpe_train`'s cost plus a vocab-sized
    word→symbol-count map (one ``size(split(...))`` over the trained
    segmentation — no re-fold, no re-encode) joined to ONE corpus
    tokenize/explode pass on the word key (AQE broadcasts the map when
    it fits), aggregated per language with map-side combine into
    |langs| rows. No UDF anywhere.
    """
    vocab, _ = _bpe_loop(df, text_col, n_merges)
    seg = _seg_map(vocab, with_count=True)
    docs = (
        df.select(F.col(lang_col).alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").alias("docs"))
    )
    stream = (
        df.select(
            F.col(lang_col).alias("lang"),
            F.explode(tokens_expr(F.col(text_col))).alias("w"),
        )
        .join(seg, "w")
        .groupBy("lang")
        .agg(F.count("*").alias("words"), F.sum("__ns").alias("symbols"))
    )
    return docs.join(stream, "lang", "left").select(
        "lang",
        "docs",
        F.coalesce("words", F.lit(0)).alias("words"),
        F.coalesce("symbols", F.lit(0)).alias("symbols"),
        F.when(
            F.coalesce("words", F.lit(0)) > 0,
            F.floor(F.col("symbols") * 1_000_000 / F.col("words")).cast("long"),
        ).alias("fertility_ppm"),
    )


def bpe_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Per-document TRAINED-tokenizer token counts: (id, bpe_tokens) —
    the budget column for :func:`ops.sampling.pack_sequences` /
    ``pack_shards`` when the packing budget must be measured in REAL
    tokenizer tokens rather than whitespace words (what an LM loader
    actually consumes; word counts under-budget agglutinative text and
    over-budget fused symbols). Documents whose text produces no tokens
    report 0 (and downstream packing drops them, per its contract).

    Scale shape: :func:`bpe_train`'s cost plus one corpus
    tokenize/explode joined to the vocab-sized word→symbol-count map —
    the :func:`bpe_fertility_by_lang` pass keyed by document instead of
    language, so the shuffle output is doc-count rows.
    """
    vocab, _ = _bpe_loop(df, text_col, n_merges)
    seg = _seg_map(vocab, with_count=True)
    counted = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens_expr(F.col(text_col))).alias("w"),
        )
        .join(seg, "w")
        .groupBy("id")
        .agg(F.sum("__ns").alias("bpe_tokens"))
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(counted, "id", "left").select(
        "id", F.coalesce("bpe_tokens", F.lit(0)).alias("bpe_tokens")
    )


def bpe_artifacts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """Train and EXPORT the shipped-tokenizer artifact pair:
    (ordered merge list [(l, r), ...], symbol→token_id vocab dict) —
    exactly what a tokenizer file carries, in the :func:`bpe_encode`
    id convention (alphabet sorted at ids 0..A-1, merge k at A+k-1,
    min-id dedup for a later merge that reproduces an existing
    symbol). Feed the pair to :func:`bpe_apply` to tokenize a
    DIFFERENT corpus — the train→ship→apply seam. Driver state is the
    artifact itself (|alphabet| + K entries), never corpus-sized: the
    alphabet collects from the vocab-sized distinct-word table."""
    vocab, steps = _bpe_loop(df, text_col, n_merges)
    # steps are driver rows already ordered by step — the artifact needs
    # no Spark job at all
    merges: list[tuple[str, str]] = [(l, r) for (_s, l, r, _m, _c) in steps]
    alpha_rows = (
        _seg_map(vocab)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("ch")
        )
        .distinct()
        .collect()
    )
    alpha = sorted(r.ch for r in alpha_rows)
    ids = {ch: i for i, ch in enumerate(alpha)}
    for k, (l, r) in enumerate(merges, start=1):
        ids.setdefault(l + r, len(alpha) + k - 1)
    return merges, ids


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab_ids: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Apply a SHIPPED tokenizer (the :func:`bpe_artifacts` pair) to a
    corpus it was not necessarily trained on — the serve side of
    train→ship→apply. Same output contract as :func:`bpe_encode`:
    (id, pos, sym_pos, token_id, symbol), except symbols absent from
    the shipped vocab (characters the training corpus never saw — the
    OOV case cross-corpus application creates) get ``unk_id`` instead
    of being dropped: silently losing symbols would corrupt every
    downstream token count, and real tokenizers reserve an
    <unk>/byte-fallback id for exactly this.

    Scale shape: the merge table is LITERAL state (it shipped as a
    list), so application needs NO training rounds: the new corpus's
    distinct-word table re-segments through K chained codegen'd folds
    — each merge is the engine's own ``_BPE_APPLY_EXPR`` with (l, r)
    bound as SQL literals, and a ``localCheckpoint`` every
    ``checkpoint_every`` folds keeps plan depth bounded for real
    (10k+-merge) tokenizers — then ONE corpus tokenize/posexplode
    joins the vocab-sized segmentation map and a broadcast |vocab|+1
    id map: :func:`bpe_encode`'s exact encode shape, minus training.
    Applying a tokenizer to its own training corpus reproduces
    ``bpe_encode`` exactly (merge-order application ≡ the trainer's
    per-round fold; tested).
    """
    spark = df.sparkSession
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    seg = (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
        .distinct()
        .select(
            "w",
            F.expr(
                "array_join(transform(sequence(1, length(w)), "
                "i -> substring(w, i, 1)), ' ')"
            ).alias("s"),
        )
    )
    for i, (l, r) in enumerate(merges):
        ln, rn = l.replace("'", "''"), r.replace("'", "''")
        fold = (
            _BPE_APPLY_EXPR.replace("__syms", "__s_arr")
            .replace("__l", f"'{ln}'")
            .replace("__r", f"'{rn}'")
        )
        seg = seg.select("w", F.split("s", " ").alias("__s_arr")).select(
            "w", F.expr(fold).alias("s")
        )
        if (i + 1) % checkpoint_every == 0:
            seg = seg.localCheckpoint()
    seg = seg.select("w", F.split("s", " ").alias("__syms"))
    from ocr_search_spark.localrel import string_int_df

    # JVM-local VALUES relation — no Python-RDD scan per pass (r6)
    id_map = string_int_df(
        spark,
        sorted((s, int(i)) for s, i in vocab_ids.items()),
        "symbol, token_id",
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    ).selectExpr("id", "posexplode(__toks) AS (pos, w)")
    return (
        toks.join(seg, "w")
        .selectExpr("id", "pos", "posexplode(__syms) AS (sym_pos, symbol)")
        .join(F.broadcast(id_map), "symbol", "left")
        .select(
            "id",
            "pos",
            "sym_pos",
            F.coalesce("token_id", F.lit(int(unk_id))).alias("token_id"),
            "symbol",
        )
    )


#: quantization shift for the WordPiece likelihood sort key: scores are
#: compared as floor(pair_count * 2^40 / (l_count * r_count)) — BIGINT-
#: exact in both engines, resolution 2^-40 (ties after quantization break
#: (l, r) ascending, a DEFINED part of the operator's semantics)
WP_SCORE_SHIFT = 40

#: pair_count must stay below 2^23 so pair_count << 40 fits BIGINT; the
#: published practice trains tokenizers on a bounded reference sample
#: (~10 GB), never the full 100 TB corpus, so the guard marks a misuse,
#: not a scale wall
_WP_MAX_PAIR = 1 << 23


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Train the first ``n_merges`` WordPiece merges (Schuster &
    Nakajima 2012; BERT's tokenizer): the same agglomerative loop as
    :func:`bpe_train` but each round fuses the pair maximizing the
    LIKELIHOOD score ``pair_count / (l_count * r_count)`` — the pair
    whose fusion most increases corpus likelihood under a unigram
    model — instead of raw pair frequency. Scores are compared on the
    exact integer lattice ``(pair_count << 40) DIV (l_count *
    r_count)`` (2^-40 resolution, ties (l, r) ascending), so the merge
    table is bit-identical across engines. Symbol counts are taken
    over the CURRENT segmentation state each round, pair counts over
    adjacent symbol pairs — both weighted by word frequency.

    Returns (step, l, r, merged, pair_count, l_count, r_count,
    score_q40) — the ordered merge table plus the score evidence.
    Early-stops when no pair remains. ``pair_count`` is guarded below
    2^23 (raise_error) so the shifted numerator stays in BIGINT; train
    on a bounded reference sample, which is the published practice.

    Scale shape: identical to :func:`bpe_train` — one corpus scan to
    the vocab-sized distinct-word table, then per round one pair
    explode + two map-side-combined groupBys (pairs, symbol counts)
    over vocab-sized inputs, two broadcast joins of the pair table
    against the symbol-count table, and a TakeOrdered(1) argmax; the
    1-row winner applies as the shared codegen'd fold. localCheckpoint
    per round bounds lineage. No UDF anywhere.
    """
    spark = df.sparkSession
    out_schema = (
        "step INT NOT NULL, l STRING, r STRING, merged STRING, "
        "pair_count BIGINT, l_count BIGINT, r_count BIGINT, "
        "score_q40 BIGINT"
    )
    _, steps = _wordpiece_loop(df, text_col, n_merges)
    return _values_steps_df(
        spark, steps,
        "step, l, r, merged, pair_count, l_count, r_count, score_q40",
        out_schema,
    ).orderBy("step")


def _wordpiece_loop(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, list[tuple]]:
    """The shared WordPiece driver loop (the ``_bpe_loop`` twin):
    returns the final re-segmented vocab (wc, s) and the per-step 1-row
    merge DataFrames (literal local relations — the winner row is
    driver state). One job per round (the winner collect); the winner
    applies as a literal fold and the vocab localCheckpoints every
    :data:`_MERGE_CKPT_EVERY` rounds. The final vocab state is
    what :func:`unigram_artifacts` reads piece probabilities off."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    vocab = words.select(
        "wc",
        F.expr(
            "array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ' ')"
        ).alias("s"),
    ).localCheckpoint()
    steps: list[tuple] = []
    pending = 0
    for step in range(1, int(n_merges) + 1):
        seg = vocab.select("wc", F.split("s", " ").alias("__syms"))
        sym_counts = (
            seg.select("wc", F.explode("__syms").alias("__sym"))
            .groupBy("__sym")
            .agg(F.sum("wc").alias("__sc"))
        )
        pair_counts = (
            seg.select("wc", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.l").alias("__l"), F.col("p.r").alias("__r"))
            .agg(F.sum("wc").alias("__cnt"))
        )
        guarded = F.when(
            F.col("__cnt") < F.lit(_WP_MAX_PAIR), F.col("__cnt")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "wordpiece_train: pair_count too large for the "
                        "exact q40 score lattice (train on a sample): "
                    ),
                    F.col("__cnt").cast("string"),
                )
            )
        )
        best = (
            pair_counts.join(
                sym_counts.select(
                    F.col("__sym").alias("__l"), F.col("__sc").alias("__lc")
                ),
                "__l",
            )
            .join(
                sym_counts.select(
                    F.col("__sym").alias("__r"), F.col("__sc").alias("__rc")
                ),
                "__r",
            )
            .select(
                "__l",
                "__r",
                "__cnt",
                "__lc",
                "__rc",
                # integer DIV, not `/`: float division loses exactness
                # once the shifted numerator passes 2^53
                F.shiftleft(guarded, WP_SCORE_SHIFT)
                .cast("long")
                .alias("__num"),
            )
            .select(
                "__l",
                "__r",
                "__cnt",
                "__lc",
                "__rc",
                F.expr("__num DIV (__lc * __rc)").alias("__score"),
            )
            .orderBy(F.col("__score").desc(), "__l", "__r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        steps.append(
            (
                step,
                b["__l"],
                b["__r"],
                b["__l"] + b["__r"],
                int(b["__cnt"]),
                int(b["__lc"]),
                int(b["__rc"]),
                int(b["__score"]),
            )
        )
        vocab = _apply_merge_literal(vocab, b["__l"], b["__r"])
        pending += 1
        if pending >= _MERGE_CKPT_EVERY:
            vocab = vocab.localCheckpoint()
            pending = 0
    return vocab, steps


def wordpiece_artifacts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> dict[str, int]:
    """Train :func:`wordpiece_train` and export the shipped vocab
    (symbol → token_id): training-corpus alphabet sorted at ids
    0..A-1, the step-k merged piece at A+k-1, min-id dedup — the same
    id convention :func:`bpe_artifacts` ships, so the two tokenizer
    families are drop-in comparable downstream. Greedy WordPiece
    matching needs only the piece SET (no merge order), so the dict is
    the whole artifact."""
    ids, _ = wordpiece_artifacts_with_words(df, text_col, n_merges)
    return ids


def wordpiece_artifacts_with_words(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[dict[str, int], DataFrame]:
    """:func:`wordpiece_artifacts` plus the trainer's distinct-word
    table (one column ``w``), read off the vocab state the loop already
    materialized — a train-then-serve composition passes it to
    :func:`wordpiece_encode` so the serve side's greedy matcher does not
    re-tokenize the corpus to rebuild the same word set (r6)."""
    vocab, steps = _wordpiece_loop(df, text_col, n_merges)
    merges = [m for (_s, _l, _r, m, *_rest) in steps]
    # alphabet off the vocab-sized seg map (the bpe_artifacts convention:
    # the space-free concat of a segmentation IS the word, so its distinct
    # chars equal the corpus alphabet) — not a second corpus tokenize pass
    alpha_rows = (
        _seg_map(vocab)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            ).alias("ch")
        )
        .distinct()
        .collect()
    )
    alpha = sorted(r.ch for r in alpha_rows)
    ids = {ch: i for i, ch in enumerate(alpha)}
    for k, m in enumerate(merges, start=1):
        ids.setdefault(m, len(alpha) + k - 1)
    return ids, _seg_map(vocab).select("w")


def wordpiece_encode(
    df: DataFrame,
    vocab_ids: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
    unk_symbol: str = "[UNK]",
    max_word_len: int = 100,
    checkpoint_every: int = 4,
    engine: str = "arrow",
    words: DataFrame | None = None,
) -> DataFrame:
    """Greedy longest-match-first WordPiece tokenization (the BERT
    runtime algorithm — a DIFFERENT algorithm from BPE merge
    application): at each position take the LONGEST vocab piece
    prefixing the remainder; if no piece matches, or the word exceeds
    ``max_word_len`` characters, the WHOLE word becomes ``unk_symbol``
    (BERT's ``max_input_chars_per_word`` / is_bad rule — never partial
    output). No ``##`` continuation namespace (one shared piece set);
    the algorithm structure and UNK semantics follow the reference.

    Output: (id, pos, sym_pos, token_id, symbol) — the
    :func:`bpe_encode` stream contract; ``unk_symbol`` rows carry
    ``unk_id``.

    Scale shape: greedy matching runs on the DISTINCT-WORD table, not
    the token stream. ``engine='arrow'`` (default) segments each
    distinct word in ONE mapInPandas pass with the piece set broadcast
    (a batch-level loop over words inside the Arrow batch — the
    distinct-word table stays distributed, per-word cost is
    O(len × max_piece) set probes, and the whole match is a single
    narrow stage instead of a shuffle per round). ``engine='sql'`` is
    the pure-Catalyst twin: ≤ ``max_word_len`` rounds of (bounded
    prefix explode ≤ max-piece-length per active word) → broadcast
    piece join → per-word argmax, early stop when every word is
    consumed, ``localCheckpoint`` every ``checkpoint_every`` rounds —
    bit-identical output, kept as the no-UDF validation arm (parity
    pinned in test_ops). Either way the corpus pays one
    posexplode/join serving pass (bpe_encode's shape)."""
    if max_word_len < 1:
        raise ValueError("max_word_len must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if not vocab_ids:
        raise ValueError("vocab_ids must be non-empty")
    if unk_symbol in vocab_ids:
        raise ValueError("unk_symbol must not collide with a vocab piece")
    if engine not in ("arrow", "sql"):
        raise ValueError("engine must be 'arrow' or 'sql'")
    spark = df.sparkSession
    max_piece = max(len(p) for p in vocab_ids)
    from ocr_search_spark.localrel import string_int_df

    # JVM-local VALUES relation (a createDataFrame piece map is
    # Python-RDD-backed and adds a Python-worker scan per pass, r6)
    pieces = string_int_df(
        spark,
        sorted((p, int(i)) for p, i in vocab_ids.items()),
        "piece, token_id",
    )
    if words is None:
        # ``words``: a train-then-serve composition passes the trainer's
        # distinct-word table (wordpiece_artifacts_with_words) so the
        # corpus is not re-tokenized just to rebuild the same set (r6)
        words = (
            df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
            .distinct()
        )
    else:
        words = words.select("w")
    if engine == "arrow":
        piece_set = frozenset(vocab_ids)
        bc = spark.sparkContext.broadcast((piece_set, max_piece))

        def match(batches):
            import pandas as pd

            pset, mp = bc.value
            for pdf in batches:
                out_w, out_t = [], []
                for w in pdf["w"]:
                    if len(w) > max_word_len:
                        toks = [unk_symbol]
                    else:
                        toks, pos, n = [], 0, len(w)
                        while pos < n:
                            for ln in range(min(mp, n - pos), 0, -1):
                                if w[pos : pos + ln] in pset:
                                    toks.append(w[pos : pos + ln])
                                    pos += ln
                                    break
                            else:
                                toks = [unk_symbol]
                                break
                    out_w.append(w)
                    out_t.append(toks)
                yield pd.DataFrame({"w": out_w, "toks": out_t})

        state = words.mapInPandas(match, "w string, toks array<string>")
        return _wordpiece_serve(
            df, state, pieces, id_col, text_col, unk_id
        )
    unk_arr = F.array(F.lit(unk_symbol))
    state = (
        words.select(
            "w",
            F.when(F.length("w") <= max_word_len, F.col("w"))
            .otherwise(F.lit(""))
            .alias("rest"),
            F.when(F.length("w") <= max_word_len, F.expr("array()"))
            .otherwise(unk_arr)
            .cast("array<string>")
            .alias("toks"),
        )
        .localCheckpoint()
    )
    for it in range(max_word_len):
        active = state.filter(F.col("rest") != "")
        if active.isEmpty():
            break
        best = (
            active.select(
                "w",
                "rest",
                F.explode(
                    F.sequence(
                        F.lit(1),
                        F.least(F.length("rest"), F.lit(max_piece)),
                    )
                ).alias("__L"),
            )
            .join(
                F.broadcast(pieces.select("piece")),
                F.expr("substring(rest, 1, __L)") == F.col("piece"),
            )
            .groupBy("w")
            .agg(F.max("__L").alias("__bl"))
        )
        state = (
            state.join(best, "w", "left")
            .select(
                "w",
                F.when(F.col("rest") == "", F.col("rest"))
                .when(F.col("__bl").isNull(), F.lit(""))
                .otherwise(F.expr("substring(rest, __bl + 1)"))
                .alias("rest"),
                F.when(F.col("rest") == "", F.col("toks"))
                .when(F.col("__bl").isNull(), unk_arr)
                .otherwise(
                    F.concat(
                        "toks", F.array(F.expr("substring(rest, 1, __bl)"))
                    )
                )
                .alias("toks"),
            )
        )
        if (it + 1) % checkpoint_every == 0:
            state = state.localCheckpoint()
    return _wordpiece_serve(df, state, pieces, id_col, text_col, unk_id)


def _wordpiece_serve(
    df: DataFrame,
    state: DataFrame,
    pieces: DataFrame,
    id_col: str,
    text_col: str,
    unk_id: int,
) -> DataFrame:
    """The shared corpus-keyed serving pass: posexplode the token
    stream, join each word's segmentation (``state``: w → toks), stream
    out (id, pos, sym_pos, token_id, symbol) with OOV symbols carrying
    ``unk_id`` via the broadcast piece join."""
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    ).selectExpr("id", "posexplode(__toks) AS (pos, w)")
    return (
        toks.join(state.select("w", "toks"), "w")
        .selectExpr("id", "pos", "posexplode(toks) AS (sym_pos, symbol)")
        .join(F.broadcast(pieces.withColumnRenamed("piece", "symbol")), "symbol", "left")
        .select(
            "id",
            "pos",
            "sym_pos",
            F.coalesce("token_id", F.lit(int(unk_id))).alias("token_id"),
            "symbol",
        )
    )


def unigram_artifacts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> dict[str, int]:
    """Piece-cost table for unigram-LM (SentencePiece-style) Viterbi
    segmentation: run the WordPiece loop, then read unigram piece
    probabilities off the FINAL segmentation state — piece p with
    corpus symbol mass c_p costs ``hb(T) - hb(c_p)`` half-bits
    (T = total symbol mass), the integer-exact NLL the dsir/nb/lm
    family established. Pieces all occur (they come from the
    segmentation), so no smoothing term. The dict is the shipped
    artifact :func:`unigram_segment` consumes."""
    costs, _ = unigram_artifacts_with_words(df, text_col, n_merges)
    return costs


def unigram_artifacts_with_words(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[dict[str, int], DataFrame]:
    """:func:`unigram_artifacts` plus the trainer's distinct-word table
    (one column ``w``) read off the loop's vocab state — pass it to
    :func:`unigram_segment` so the serve side's lattice does not
    re-tokenize the corpus to rebuild the same word set (r6)."""
    from .sketch import _hb_wide

    vocab, _ = _wordpiece_loop(df, text_col, n_merges)
    counts = (
        vocab.select("wc", F.explode(F.split("s", " ")).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("wc").alias("c"))
    )
    rows = (
        counts.crossJoin(
            F.broadcast(counts.agg(F.sum("c").alias("t")))
        )
        .select(
            "sym",
            (_hb_wide(F.col("t")) - _hb_wide(F.col("c"))).alias("cost_hb"),
        )
        .collect()
    )
    return {r.sym: int(r.cost_hb) for r in rows}, _seg_map(vocab).select("w")


#: unreachable-position sentinel for the Viterbi lattice — far above any
#: real path cost (<= max_word_len * 126 half-bits) yet sum-safe
_UNI_INF = 1 << 40

#: map-literal ceiling for unigram_segment: the piece-cost map is inlined
#: into codegen; past this size ship it as a broadcast join instead
_UNI_MAX_PIECES = 4096


def unigram_segment(
    df: DataFrame,
    piece_costs: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id_cost: int = -1,
    unk_symbol: str = "[UNK]",
    max_word_len: int = 16,
    words: DataFrame | None = None,
) -> DataFrame:
    """Viterbi-optimal segmentation under a shipped unigram piece-cost
    table — the SentencePiece RUNTIME (Kudo 2018): each word takes the
    segmentation minimizing total half-bit cost, not greedy longest
    match and not merge order; ties prefer the earlier backpointer
    (smallest split position). Words over ``max_word_len`` chars or
    with no lattice path (a character no piece covers) become a single
    whole-word ``unk_symbol`` row — the same conservation rule the
    other two tokenizer serve paths follow.

    Output: (id, pos, sym_pos, symbol, cost_hb) — cost_hb is the
    shipped per-piece cost, ``unk_id_cost`` on unk rows.

    Scale shape: the whole lattice is unrolled CODEGEN arithmetic on
    the distinct-word table — max_word_len DP columns, each a least()
    over ≤ max-piece-length map lookups, then a backpointer walk; no
    iteration, no shuffle until the single corpus-keyed
    posexplode/join serve pass every tokenizer in this repo shares.
    The piece map is a literal (≤ 4096 pieces guarded — ship larger
    vocabs as a broadcast join variant)."""
    if max_word_len < 1:
        raise ValueError("max_word_len must be >= 1")
    if not piece_costs:
        raise ValueError("piece_costs must be non-empty")
    if unk_symbol in piece_costs:
        raise ValueError("unk_symbol must not collide with a piece")
    if len(piece_costs) > _UNI_MAX_PIECES:
        raise ValueError(
            f"piece_costs has {len(piece_costs)} entries; the map-literal "
            f"path is capped at {_UNI_MAX_PIECES} (use a broadcast join)"
        )
    max_piece = max(len(p) for p in piece_costs)
    cm = F.create_map(
        *[
            F.lit(x)
            for p, c in sorted(piece_costs.items())
            for x in (p, int(c))
        ]
    )
    inf = F.lit(_UNI_INF)
    # the map literal binds to ONE column; every lattice lookup then
    # references the column instead of inlining |vocab| literals per
    # candidate — the inlined form OOMs a default-heap driver on
    # expression-tree size alone
    if words is None:
        words = df.select(
            F.explode(tokens_expr(F.col(text_col))).alias("w")
        ).distinct()
    else:
        # the trainer's word table (unigram_artifacts_with_words): same
        # distinct set, no corpus re-tokenize (r6)
        words = words.select("w")
    d = words.select(
        "w",
        F.length("w").alias("__n"),
        F.lit(0).alias("__dp_0"),
        cm.alias("__cm"),
    )

    def cand(j: int, i: int):
        c = F.element_at(
            F.col("__cm"), F.expr(f"substring(w, {j + 1}, {i - j})")
        )
        return F.when(
            c.isNull() | (F.col(f"__dp_{j}") >= inf), inf
        ).otherwise(F.col(f"__dp_{j}") + c)

    # plan-construction shape (r6): one withColumns per lattice position
    # carrying BOTH dp_i and bp_i, with each cand(j, i) Column built once
    # and the dp_i expression object reused inside bp_i (Columns are
    # immutable — sharing them costs no extra py4j round trips and keeps
    # the projection count at max_word_len instead of 2×). The chained
    # one-column withColumn form measured ~0.9 s of pure driver time per
    # query build at max_word_len=8.
    for i in range(1, max_word_len + 1):
        js = list(range(max(0, i - max_piece), i))
        cands = {j: cand(j, i) for j in js}
        best = F.least(*cands.values()) if len(js) > 1 else cands[js[0]]
        dpc = F.when(F.col("__n") >= i, best).otherwise(inf)
        bp = None
        for j in js:
            hit = F.when(cands[j] == dpc, F.lit(j))
            bp = hit if bp is None else F.coalesce(bp, hit)
        d = d.withColumns(
            {
                f"__dp_{i}": dpc,
                f"__bp_{i}": F.when(
                    (F.col("__n") >= i) & (dpc < inf), bp
                ).otherwise(F.lit(None).cast("int")),
            }
        )
    dp_arr = F.array(*[F.col(f"__dp_{i}") for i in range(1, max_word_len + 1)])
    bp_arr = F.array(*[F.col(f"__bp_{i}") for i in range(1, max_word_len + 1)])
    d = d.withColumns(
        {
            "__bps": bp_arr,
            "__ok": (F.col("__n") <= max_word_len)
            & (F.element_at(dp_arr, F.col("__n")) < inf),
        }
    )
    # backpointer walk: __e_0 = n, __e_t = bp[__e_{t-1}] while > 0
    d = d.withColumn("__e_0", F.when(F.col("__ok"), F.col("__n")))
    for t in range(1, max_word_len + 1):
        prev = F.col(f"__e_{t - 1}")
        d = d.withColumn(
            f"__e_{t}",
            F.when(
                prev.isNotNull() & (prev > 0),
                F.element_at(F.col("__bps"), prev),
            ),
        )
    pieces = [
        F.when(
            F.col(f"__e_{t - 1}").isNotNull()
            & (F.col(f"__e_{t - 1}") > 0),
            F.expr(
                f"substring(w, __e_{t} + 1, __e_{t - 1} - __e_{t})"
            ),
        )
        for t in range(1, max_word_len + 1)
    ]
    # materialize the vocab-sized segmentation: the serve join below
    # must not carry the full lattice plan (default-heap drivers OOM
    # compiling it twice)
    seg = d.select(
        "w",
        F.when(
            F.col("__ok"),
            F.reverse(
                F.filter(F.array(*pieces), lambda x: x.isNotNull())
            ),
        )
        .otherwise(F.array(F.lit(unk_symbol)))
        .alias("toks"),
    ).localCheckpoint()
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    ).selectExpr("id", "posexplode(__toks) AS (pos, w)")
    return (
        toks.join(seg, "w")
        .selectExpr("id", "pos", "posexplode(toks) AS (sym_pos, symbol)")
        .select(
            "id",
            "pos",
            "sym_pos",
            "symbol",
            F.coalesce(
                F.element_at(cm, F.col("symbol")),
                F.lit(int(unk_id_cost)),
            ).alias("cost_hb"),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    delta: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Phrase (collocation) mining, the word2vec phrase-detection pass
    (Mikolov et al. 2013, §4): score every adjacent word pair by

        ``score = (count(a,b) − δ) / (count(a) · count(b))``

    — pairs that co-occur far more than their parts' frequencies
    predict are phrases ("new_york"); the discount δ kills rare-pair
    noise. Emitted on the exact 2^40 integer lattice the bpe_pairs
    family uses (``score_q40 = (c_ab − δ)·2^40 DIV (c_a·c_b)``, BIGINT
    trunc-toward-zero in both engines), (l, r, pair_count, score_q40)
    for pairs with ``pair_count ≥ min_count``. Run it iteratively on a
    re-joined corpus to grow longer phrases, exactly as published.

    Scale shape: one tokens projection, one zip_with-over-shifted-
    slices pair build (no per-token explode until the single
    map-side-combinable pair count), a broadcast-small unigram count
    table joined twice (word-keyed). Overflow GUARDS (raise, never wrap):
    the q40 numerator needs pair_count < 2^23 and the denominator product
    needs both unigram counts < 2^31 — head words at a 100 TB corpus sit
    at 10^11–10^12, past both; run the fit per shard and sum counts first
    (counts are associative), or pre-divide counts by a common factor.
    ``min_count >= delta`` is required: it keeps every emitted numerator
    non-negative, where integer division is engine-identical (floor and
    trunc-toward-zero diverge on negatives).
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if min_count < delta:
        raise ValueError("min_count must be >= delta (negative-score "
                         "pairs are noise and divide differently per engine)")
    toked = df.select(tokens_expr(F.col(text_col)).alias("toks"))
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    grams = F.zip_with(
        F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    pairs = (
        toked.select(F.explode(grams).alias("g"))
        .select(F.col("g.l").alias("l"), F.col("g.r").alias("r"))
        .groupBy("l", "r")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    guard = F.when(
        (F.col("pair_count") >= F.lit(1 << 23))
        | (F.col("__cl") >= F.lit(1 << 31))
        | (F.col("__cr") >= F.lit(1 << 31)),
        F.raise_error(
            F.lit(
                "collocations: counts exceed the exact-BIGINT q40 range "
                "(pair_count < 2^23, unigram counts < 2^31) — shard the "
                "fit and sum counts, or pre-divide counts"
            )
        ).cast("long"),
    )
    return (
        pairs.join(uni.select(F.col("w").alias("l"), F.col("c").alias("__cl")), "l")
        .join(uni.select(F.col("w").alias("r"), F.col("c").alias("__cr")), "r")
        .select(
            "l",
            "r",
            "pair_count",
            F.coalesce(
                guard,
                F.expr(
                    f"(pair_count - {int(delta)}) * 1099511627776 DIV (__cl * __cr)"
                ),
            ).alias("score_q40"),
        )
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary DISTRIBUTION drift between two corpora — the
    token-level companion of :func:`~ocr_search_spark.ops.dedup.corpus_diff`
    (row-level) and the sketch module's ``vocab_overlap`` (set-level):
    per word, the add-one-smoothed log-probability ratio

        ``lr_hb = [hb(c_new+1) − hb(T_new+V)] − [hb(c_old+1) − hb(T_old+V)]``

    in exact half-bits (V = union vocabulary size; the nb_train
    smoothing convention), positive = the word became more probable.
    The same statistic drives crawl-drift monitoring, mixture-shift
    data cards, and seed-corpus feature selection (the top movers
    toward a reference corpus are its characteristic vocabulary).
    Returns (w, c_old, c_new, lr_hb).

    Scale shape: two map-side-combinable word counts, one word-keyed
    full-outer join, totals as a broadcast single-row crossJoin —
    never collected. ``_hb_wide`` keeps the lattice exact to 2^63
    (head words at 100 TB sit at 10^11–10^12).
    """
    from .sketch import _hb_wide

    def wc(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias(alias))
        )

    j = (
        wc(old, "c_old")
        .join(wc(new, "c_new"), "w", "full_outer")
        .select(
            "w",
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
        )
    )
    totals = j.agg(
        F.count("*").alias("v"),
        F.coalesce(F.sum("c_old"), F.lit(0)).alias("t_old"),
        F.coalesce(F.sum("c_new"), F.lit(0)).alias("t_new"),
    )
    return j.crossJoin(F.broadcast(totals)).select(
        "w",
        "c_old",
        "c_new",
        (
            (_hb_wide(F.col("c_new") + 1) - _hb_wide(F.col("t_new") + F.col("v")))
            - (_hb_wide(F.col("c_old") + 1) - _hb_wide(F.col("t_old") + F.col("v")))
        ).alias("lr_hb"),
    )


def group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[int] = [50, 90, 99],
) -> DataFrame:
    """EXACT discrete percentiles per group — the distribution row of a
    data card (length p50/p90/p99 by language, tokens per doc by source).

    Percentile p is the value at rank ``ceil(p * n / 100)`` (1-based) in
    the group's ascending value order — the "lower" discrete percentile,
    always an actual data value, integer-exact and engine-reproducible
    (no interpolation floats). Null values are excluded; a group that is
    entirely null disappears (no percentile is defined over nothing).

    Returns ``(group_col, p, value)`` ordered by (group, p).

    Scale: one hash shuffle by group + a per-group sort (the analytic
    window). Exact per-group percentiles fundamentally need the sorted
    order; this is the oracle-able exact form — at petabyte scale with
    few groups prefer ``percentile_approx`` (t-digest, mergeable
    map-side) and keep this as its validation twin, the same
    exact-vs-approx pairing as jaccard_pairs_exact / minhash-LSH.
    """
    from pyspark.sql import Window

    ps = sorted(set(int(p) for p in ps))
    if not ps or ps[0] < 1 or ps[-1] > 100:
        raise ValueError(f"percentiles must be ints in [1, 100], got {ps!r}")
    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = (
        df.filter(F.col(value_col).isNotNull())
        .select(group_col, value_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__n", F.count("*").over(Window.partitionBy(group_col))
        )
    )
    # one pass: each row explodes its (p, target-rank) pairs and keeps
    # the ones whose rank it occupies — rank = ceil(p*n/100) computed in
    # integers as (p*n + 99) div 100; a tiny group can legitimately
    # satisfy several percentiles with one row
    targets = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.expr(f"({p} * __n + 99) div 100").alias("r"),
            )
            for p in ps
        ]
    )
    return (
        ranked.select(
            group_col,
            F.col(value_col).alias("value"),
            "__rn",
            F.explode(targets).alias("__t"),
        )
        .filter(F.col("__t.r") == F.col("__rn"))
        .select(group_col, F.col("__t.p").alias("p"), "value")
        .orderBy(group_col, "p")
    )
