"""Text analysis operators over a document table.

All pure column expressions — whole-stage codegen, no Python in the row
path. Designed for the ``documents`` table shape (``doc_id, text, lang,
source, n_chars``) but parameterized on column names.

These extend the reference's capability surface (its `convert`/`variants`
ingest hooks, ``core_api.py:393-410``) with the text ops a 100 TB training
-data pipeline needs: token counting, quality scoring, language id,
fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = r"[^\W_]+"  # unicode word runs, BPE-ish pre-tokenization
_WS_SPLIT = r"\s+"
_TOKEN_DELIMS = r"[\W_]+"
_TOKEN_DELIMS_SQL = _TOKEN_DELIMS.replace("\\", "\\\\")  # SQL string escapes


def tokens_sql(col: str) -> str:
    """``tokens`` of the column named ``col`` as SQL text, the same
    expression: a ``selectExpr`` builds it in one driver→JVM call,
    where the Column form makes dozens."""
    return f"filter(split(lower(`{col}`), '{_TOKEN_DELIMS_SQL}'), t -> t != '')"


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens, JVM-side. Implemented as split on the
    complement delimiter class + empty-drop rather than
    ``regexp_extract_all(TOKEN_PATTERN)`` — byte-identical output
    (verified corpus-wide incl. null/empty/all-delimiter edge cases;
    the DuckDB oracles keep the extract-all form) and measured ~25%
    faster: split scans delimiter runs without per-match group
    extraction. This is the single hottest expression in the repo —
    every shingle/dedup/quality/chunk path starts here. A column name
    builds it from ``tokens_sql``, the one SQL form."""
    if isinstance(text, str):
        return F.expr(tokens_sql(text))
    return F.filter(F.split(F.lower(text), _TOKEN_DELIMS),
                    lambda x: x != "")


def token_count(text: Column | str) -> Column:
    """Whitespace-ish token count."""
    return F.size(tokens(text))


def char_classes(text: Column | str) -> dict[str, Column]:
    """Character-class counts used by quality scoring."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.length(c)
    alpha = F.length(F.regexp_replace(c, r"[^\p{L}]", ""))
    digit = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    space = F.length(F.regexp_replace(c, r"[^\s]", ""))
    return {"total": total, "alpha": alpha, "digit": digit,
            "punct": punct, "space": space}


def quality_score(text: Column | str, decimals: int = 4) -> Column:
    """Heuristic document quality in [0,1]: rewards alpha density and
    reasonable length, penalizes punctuation/digit overload. Deterministic,
    expressible in ANSI SQL for oracle parity."""
    cc = char_classes(text)
    total = F.greatest(cc["total"], F.lit(1)).cast("double")
    alpha_ratio = cc["alpha"] / total
    punct_ratio = cc["punct"] / total
    digit_ratio = cc["digit"] / total
    length_score = F.least(total / F.lit(500.0), F.lit(1.0))
    raw = (
        F.lit(0.5) * alpha_ratio
        + F.lit(0.3) * length_score
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 4 + digit_ratio * 2, F.lit(1.0)))
    )
    return F.round(raw, decimals)


# tiny per-language stopword markers for the n-gram/stopword heuristic;
# deterministic and reproducible in plain SQL (LIKE counts)
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " de ", " que "],
}


def lang_id(text: Column | str) -> Column:
    """Language-ID heuristic: count per-language stopword markers in the
    lowercased text, take the argmax, 'und' (undetermined) if no marker
    hits. CASE-expression only — SQL-portable."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    padded = F.concat(F.lit(" "), c, F.lit(" "))

    def score(markers: list[str]) -> Column:
        out = F.lit(0)
        for m in markers:
            # occurrence count via length difference
            out = out + (
                (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                / F.lit(len(m))
            ).cast("int")
        return out

    scores = {lang: score(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    # nested CASE; deterministic tie-break = first alphabetical max
    result = None
    for lang in sorted(scores):
        cond = (best > 0) & (scores[lang] == best)
        result = F.when(cond, F.lit(lang)) if result is None else result.when(cond, F.lit(lang))
    return result.otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 over the canonical token stream (lowercase,
    punctuation-insensitive, single-space-joined). Collision-safe enough for
    dedup keys; md5 chosen so DuckDB oracles can reproduce it exactly."""
    return F.md5(F.array_join(tokens(text), " "))


def md5_long(col: Column) -> Column:
    """60-bit bigint fingerprint: the top 15 hex digits of md5, base-16
    decoded. The hot-key workhorse for per-token-window hashing
    (substring dedup, winnowing): an 8-byte long shuffles ~4× fewer
    bytes than the 32-hex md5 string and compares/aggregates without
    string semantics, while staying cross-engine reproducible (DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``). Birthday bound:
    p ≈ n²/2^61, so a billion distinct keys see one collision with
    p≈0.4 — one spurious window pair among 10^9 is noise for
    duplication statistics/span removal (bounded, per-window damage);
    keep the full md5 (``fingerprint``) where a false merge must be
    impossible (whole-document identity)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def bpe_token_estimate(text: Column | str) -> Column:
    """Estimated subword (BPE-style) token count without a tokenizer
    model: pre-tokenize with the GPT-2-family regex shape — letter runs,
    single digits, punctuation runs (simplified to avoid lookahead, and
    with the whitespace class SPELLED OUT — Java's ``\\s`` includes
    vertical tab, RE2's does not — so the same pattern means the same
    thing under Java regex AND RE2/DuckDB) — then charge
    each letter run ceil(len/4) subword tokens (the ~4-chars-per-token
    empirical rate of English BPE vocabularies) and every other piece 1.
    The standard budget-planning estimate when running the real
    tokenizer over 100 TB is not worth a pass; exact token accounting
    belongs to the training stack. Pure codegen column expression."""
    pieces = F.regexp_extract_all(
        F.lower(text),
        F.lit("[\\p{L}]+|[0-9]|[^\\p{L}0-9\\t\\n\\x0B\\f\\r ]+"), 0)
    per = F.transform(
        pieces,
        lambda p: F.when(p.rlike(r"^\p{L}"),
                         F.ceil(F.length(p) / 4)).otherwise(F.lit(1)))
    return F.coalesce(
        F.aggregate(per, F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long")),
        F.lit(0).cast("long"))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection with all text-analysis columns."""
    cc = char_classes(text_col)
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
        F.round(cc["punct"] / F.greatest(cc["total"], F.lit(1)), 4).alias("punct_ratio"),
    )


def ngram_stream(toks: Column, n: int) -> Column:
    """Word n-grams WITH duplicates (unlike ``dedup.word_shingles``,
    which set-dedups for Jaccard): repetition measures need multiplicity."""
    if n == 1:
        return toks
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    decimals: int = 4,
) -> DataFrame:
    """Internal-repetition quality signals per document (the Gopher-rule
    family: documents dominated by a few repeated n-grams are boilerplate
    or spam):

    - ``top_ngram_frac``  — occurrences of the single most frequent n-gram
      over all n-gram occurrences;
    - ``dup_ngram_frac``  — fraction of n-gram occurrences whose n-gram
      appears more than once.

    Plan: non-distinct n-grams explode to (doc, gram) rows, count per
    (doc, gram) — one shuffle keyed by doc+gram, map-side combinable —
    then roll up per doc. Docs with < n tokens get 0.0 for both. The same
    two-shuffle shape holds at any scale; no doc's grams ever concentrate
    beyond its own row count."""
    from metrique_spark.functions.dedup import spread_small_scan

    src = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    t = src.select("id", tokens("__text").alias("__toks"))
    g = (
        t.select("id", F.explode_outer(ngram_stream(F.col("__toks"), n))
                 .alias("g"))
        .where(F.col("g").isNotNull())
    )
    counts = g.groupBy("id", "g").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("id").agg(
        F.sum("c").alias("__total"),
        F.max("c").alias("__top"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("__dup"),
    ).select(
        "id",
        F.round(F.col("__top") / F.col("__total"), decimals)
        .alias("top_ngram_frac"),
        F.round(F.col("__dup") / F.col("__total"), decimals)
        .alias("dup_ngram_frac"),
        F.col("__total").alias("n_ngrams"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("top_ngram_frac", F.lit(0.0)).alias("top_ngram_frac"),
            F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into token-window chunks — the step that turns a
    corpus into training-sequence candidates. ``stride`` < ``chunk_tokens``
    gives overlapping windows (sliding); default is non-overlapping.
    Output: (id, chunk_idx, chunk_text, n_tokens), empty docs emit nothing.

    Pure column expressions: tokenize once, generate window starts with
    ``sequence(step=stride)``, slice per start — the explode carries only
    (id, start) pairs plus the chunk's own tokens, never the whole doc per
    chunk."""
    from metrique_spark.functions.dedup import spread_small_scan

    stride = stride or chunk_tokens
    src = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    t = src.select("id", tokens("__t").alias("__toks"))
    starts = F.when(
        F.size("__toks") > 0,
        F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(stride)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    # explode_outer + null-drop: same InferFiltersFromGenerate footgun as
    # the shingle paths (see dedup.jaccard_pairs)
    chunks = (
        t.select("id", "__toks", F.posexplode_outer(starts)
                 .alias("chunk_idx", "__s"))
        .where(F.col("__s").isNotNull())
        .select(
            "id", "chunk_idx",
            F.slice("__toks", F.col("__s") + 1, chunk_tokens).alias("__c"),
        )
    )
    return chunks.select(
        F.col("id").alias(id_col),
        "chunk_idx",
        F.array_join("__c", " ").alias("chunk_text"),
        F.size("__c").alias("n_tokens"),
    )


def pack_chunks(
    chunks: DataFrame,
    budget: int = 512,
    n_groups: int | None = None,
    id_col: str = "doc_id",
    target_group_rows: int = 100_000,
) -> DataFrame:
    """Assign chunks to fixed-token-budget training bins (sequence
    packing). Contiguous fill: within each pack group, chunks are laid out
    in (doc, chunk) order and a chunk lands in bin
    ``floor(tokens_before / budget)`` — fully vectorized (one window sum),
    deterministic, and SQL-expressible. A bin can overshoot the budget by
    at most one chunk (the standard vectorized compromise; exact first-fit
    is a sequential recurrence).

    Scale shape: a single global ordering would serialize the window onto
    one partition, so packing is sharded into ``n_groups`` deterministic
    groups (``doc_id % n_groups``) and bins are keyed (pack_group,
    bin_idx). Group count bounds window-partition size: size ≈
    corpus/n_groups. ``n_groups=None`` (default) derives it from the
    chunk count so the bound holds at any scale without a manual knob
    (the ``auto_nlist`` pattern: ``⌈n/target_group_rows⌉``, min 32 —
    costs one count job; pass an explicit ``n_groups`` to skip it and
    pin the grouping, e.g. for cross-engine reproducibility)."""
    if n_groups is None:
        import math

        n_groups = max(
            32, math.ceil(chunks.count() / max(1, target_group_rows)))
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col(id_col), F.col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        chunks.withColumn(
            "pack_group", (F.col(id_col) % n_groups).cast("long"))
        .withColumn("__before", F.coalesce(F.sum("n_tokens").over(w),
                                           F.lit(0)))
        .withColumn("bin_idx",
                    F.floor(F.col("__before") / budget).cast("long"))
        .drop("__before")
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB/most engines) so redaction stays oracle-verifiable; the
# phone pattern is looser and intentionally NOT part of the oracle gate
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    "phone": (r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    kinds: tuple = ("email", "ipv4", "phone"),
) -> DataFrame:
    """Scrub PII-shaped spans from a text column (corpus hygiene before
    training): each kind is replaced by its placeholder and counted.
    Adds ``{out_col}`` (redacted text) and ``n_{kind}`` count columns.

    Pure ``regexp_replace``/``regexp_extract_all`` column expressions —
    codegen, zero shuffle, runs inside the scan stage. Counts are taken
    BEFORE replacement so overlapping kinds (an email containing digits)
    report what each pattern actually matched in the original."""
    out_col = out_col or f"{text_col}_redacted"
    c = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[k][0]), 0))
        .alias(f"n_{k}")
        for k in kinds
    ]
    red = c
    for k in kinds:
        pat, repl = PII_PATTERNS[k]
        red = F.regexp_replace(red, pat, repl)
    return df.select("*", *counts, red.alias(out_col))


# candidate card-number spans are MAXIMAL runs of digit/space/dash
# characters (split on everything else), trimmed and kept when they
# carry 13-19 digits. Deliberately NOT a \b-bounded regex: Java's \b is
# Unicode-aware while RE2's is ASCII, so a digit run adjacent to a CJK
# or accented word char matches under one engine and not the other —
# the maximal-run split uses only ASCII classes and behaves identically
# everywhere. Two cards separated by a single space merge into one
# over-long run and are skipped (the single-space separator grammar is
# genuinely ambiguous there).
_CARD_RUN_SPLIT = r"[^0-9 \-]+"
_CARD_TRIM = r"^[ -]+|[ -]+$"


def luhn_valid(cand) -> Column:
    """Luhn checksum over a candidate span (separators stripped) as a
    pure column expression — sum of right-to-left digits with every
    second one doubled (minus 9 when > 9) divisible by 10. The
    industry-standard precision guard for card-number detection: a
    digit-run regex alone would redact order ids and timestamps; only
    ~1 in 10 random digit strings passes Luhn."""
    ds = F.regexp_replace(
        cand if isinstance(cand, Column) else F.col(cand), "[ -]", "")
    n = F.length(ds)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc + F.when(
            i % 2 == 0,
            F.when(ds.substr(n - i + 1, F.lit(1)).cast("int") * 2 > 9,
                   ds.substr(n - i + 1, F.lit(1)).cast("int") * 2 - 9)
            .otherwise(ds.substr(n - i + 1, F.lit(1)).cast("int") * 2))
        .otherwise(ds.substr(n - i + 1, F.lit(1)).cast("int")),
    )
    return total % 10 == 0


def redact_card_numbers(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    placeholder: str = "<CARD>",
) -> DataFrame:
    """Redact Luhn-VALID payment-card numbers (corpus hygiene): extract
    candidate digit spans, keep only those passing the Luhn checksum,
    and literal-replace each valid span — invalid lookalikes (order
    ids, phone-length digit runs) stay untouched, which a plain regex
    redaction gets wrong. Adds ``n_card_candidates``, ``n_cards``
    (validated) and ``{out_col}``.

    Pure column expressions (maximal-run split + array filters with the
    checksum lambda + an array fold of literal replaces) — codegen,
    zero shuffle, scan-stage; oracle-portable because every piece
    (ASCII-only split classes, checksum arithmetic, ordered fold)
    evaluates identically in RE2-based SQL engines."""
    out_col = out_col or f"{text_col}_redacted"
    c = F.coalesce(F.col(text_col), F.lit(""))
    runs = F.transform(
        F.split(c, _CARD_RUN_SPLIT),
        lambda p: F.regexp_replace(p, _CARD_TRIM, ""))
    n_digits = (lambda p:
                F.length(F.regexp_replace(p, "[ -]", "")))
    cands = F.filter(runs, lambda p: (n_digits(p) >= 13)
                     & (n_digits(p) <= 19))
    valid = F.filter(cands, luhn_valid)
    red = F.aggregate(
        valid, c, lambda acc, v: F.replace(acc, v, F.lit(placeholder)))
    return df.select(
        "*",
        F.size(cands).alias("n_card_candidates"),
        F.size(valid).alias("n_cards"),
        red.alias(out_col))


def corpus_stats(
    df: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum corpus summary (the data-card rollup: volume, token
    mass, quality, exact-dup rate) in ONE aggregation pass — counts,
    token totals, mean quality, and distinct-fingerprint counts are all
    map-side-combinable aggregates over the same scan."""
    from metrique_spark.functions.dedup import spread_small_scan

    src = spread_small_scan(df.select(
        F.col(id_col).alias("id"), F.col(stratum_col).alias("stratum"),
        F.col(text_col).alias("__t")))
    per_doc = src.select(
        "stratum",
        token_count("__t").alias("__n_tok"),
        quality_score("__t").alias("__q"),
        fingerprint("__t").alias("__fp"),
    )
    return per_doc.groupBy("stratum").agg(
        F.count("*").alias("n_docs"),
        F.sum("__n_tok").cast("long").alias("n_tokens"),
        F.round(F.avg("__q"), 4).alias("avg_quality"),
        F.count_distinct("__fp").alias("n_unique_fp"),
        (F.count("*") - F.count_distinct("__fp")).cast("long")
        .alias("n_exact_dups"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token frequency table — the input to vocabulary/BPE
    construction and stop-word lists: one row per token with total
    occurrence count and document frequency, filtered to
    ``count >= min_count``.

    Scale shape: explode to (doc, token) rows, then one aggregation
    keyed on token. The occurrence count is fully map-side combinable, so
    stop-word skew ('the' in every doc) collapses to one partial row per
    map partition before the shuffle; doc_freq is a count-distinct, which
    Spark plans as a two-phase aggregate over (token, doc) — also
    partially combined, since the explode already emits each (doc, token)
    at most the token's per-doc count."""
    from metrique_spark.functions.dedup import spread_small_scan

    src = spread_small_scan(df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    occ = src.select("id", F.explode_outer(tokens("__t")).alias("token")) \
             .where(F.col("token").isNotNull())
    out = occ.groupBy("token").agg(
        F.count("*").alias("count"),
        F.count_distinct("id").alias("doc_freq"),
    )
    if min_count > 1:
        out = out.where(F.col("count") >= min_count)
    return out


def stratum_quantiles(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    quantiles: tuple = (0.25, 0.5, 0.75, 0.95),
    decimals: int = 6,
    reliable_dir: str | None = None,
) -> DataFrame:
    """Exact linear-interpolated quantiles of ``value_col`` per stratum —
    quality-threshold calibration for filter pipelines (e.g. "keep docs
    above the per-language p25"). One row per (stratum, q).

    Spark's builtin exact ``percentile`` collects each group's values into
    one aggregation buffer — memory-bound on a 100 TB group. This is the
    distributed form: global in-stratum ranks come from
    ``sampling.ranked_within_strata`` (range-partition on (stratum, v),
    per-partition counts → driver prefix offsets, PARALLEL per-partition
    windows — never a full-stratum sort in one task, so a 90%-of-corpus
    language stratum costs ~90% of the partitions, not one serialized
    executor); the target positions ``p = 1 + (n-1)*q`` are computed on
    the driver from the same counts, and only the floor/ceil boundary
    rows per (stratum, q) are joined (broadcast of |strata|·|quantiles|
    target rows against the ranked scan) and interpolated. The quantile
    definition (type-7 / linear interpolation) matches NumPy/DuckDB
    ``quantile_cont`` so results are engine-portable.

    ``decimals`` defaults to 6, not 4: with 4-decimal inputs the q=0.5
    interpolation lands exactly on a 4th-decimal rounding boundary
    (x.xxxx5), where HALF_UP (Spark) and float rounding (other engines)
    disagree; at 6 decimals every interpolation output sits >=5e-7 from
    a boundary, so a 1-ulp cross-engine drift cannot flip the digit.

    Cache lifetime: the returned plan reads one persisted
    range-partitioned intermediate; ``functions.cache.release(result)``
    after materializing. ``reliable_dir`` passes through to
    ``ranked_within_strata``: on clusters where executor loss is in
    play, the ranked intermediate spills to that storage path instead of
    the recompute-unsafe cache (see its docstring). With a warehouse
    Engine in the session, the safe spill engages AUTOMATICALLY on
    non-local masters — no argument needed (engine-managed scratch,
    swept by release()/vacuum)."""
    from metrique_spark.functions.cache import track
    from metrique_spark.functions.sampling import ranked_within_strata

    src = df.select(F.col(stratum_col).alias("stratum"),
                    F.col(value_col).cast("double").alias("v"))
    ranked = ranked_within_strata(src, "stratum", [F.col("v")],
                                  rank_col="r", reliable_dir=reliable_dir)
    # targets computed IN-PLAN off the ranker's per-stratum totals frame
    # (nothing per-stratum touches the driver — web-scale stratum
    # cardinality is fine): identical IEEE-double arithmetic to the old
    # driver form (1.0 + (n-1)*q, floor/ceil), so values are bit-stable
    qdf = ranked.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], "q double")
    tdf = (ranked._stratum_totals_df
           .crossJoin(F.broadcast(qdf))
           .select(
               F.col("__s").alias("__ts"), "q",
               (F.lit(1.0) + (F.col("__n") - F.lit(1)).cast("double")
                * F.col("q")).alias("p"))
           .withColumn("rf", F.floor(F.col("p")).cast("long"))
           .withColumn("rc", F.ceil(F.col("p")).cast("long")))
    # ONE pass over the ranked scan: each boundary row (floor or ceil
    # rank) joins its target(s), then a tiny |strata|·|quantiles|-group
    # aggregate pivots the two boundary values back onto one row (the
    # target side is |strata|·|quantiles| rows — AQE broadcasts it)
    hits = ranked.join(
        tdf,
        (F.col("stratum") == F.col("__ts"))
        & ((F.col("r") == F.col("rf")) | (F.col("r") == F.col("rc"))))
    return track(
        hits.groupBy("stratum", "q")
        .agg(
            F.first("p").alias("p"), F.first("rf").alias("rf"),
            F.min(F.when(F.col("r") == F.col("rf"), F.col("v"))).alias("vf"),
            F.min(F.when(F.col("r") == F.col("rc"), F.col("v"))).alias("vc"),
        )
        .select(
            "stratum", "q",
            F.round(F.col("vf") + (F.col("p") - F.col("rf"))
                    * (F.col("vc") - F.col("vf")), decimals).alias("value"),
        ),
        ranked,
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 4,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the perplexity-proxy quality signal of CCNet-style
    filtering (public technique: Wenzek et al. 2020, "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data"; a full KenLM
    is out of scope, but the unigram score already separates fluent text
    from token soup and is fully SQL-expressible, hence oracle-checkable).
    Returns ``(id_col, n_tokens, mean_logprob)`` for docs with ≥1 token;
    higher (closer to 0) = more typical of the corpus.

    Scale shape: one token-frequency aggregate (map-side combined — the
    stop-word skew collapses per map partition), then the exploded
    (doc, token) stream joins token→logprob and re-aggregates per doc.
    Both shuffles are keyed on token/doc with partial aggregation; the
    frequency table is NOT broadcast (a 100 TB corpus has a billion-type
    vocabulary — it shuffles like any fact-fact join, and AQE broadcasts
    it when it is actually small). Every token is in-vocabulary by
    construction (the LM is self-trained), so no smoothing term touches
    the score."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    occ = (src.select("id", F.explode_outer(tokens("__t")).alias("token"))
           .where(F.col("token").isNotNull()))
    freq = occ.groupBy("token").agg(F.count("*").alias("__c"))
    total = freq.agg(F.sum("__c").alias("__n"))
    logp = freq.crossJoin(F.broadcast(total)).select(
        "token", (F.log(F.col("__c")) - F.log(F.col("__n"))).alias("__lp"))
    return (
        occ.join(logp, "token")
        .groupBy("id")
        .agg(F.count("*").alias("n_tokens"),
             F.round(F.avg("__lp"), decimals).alias("mean_logprob"))
        .select(F.col("id").alias(id_col), "n_tokens", "mean_logprob")
    )


#: the Gopher rule's "stop word presence" list (Rae et al. 2021 §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopword_hits: int = 2,
    decimals: int = 4,
    keep: tuple = (),
) -> DataFrame:
    """Gopher-rule document quality filters (public technique: Rae et
    al. 2021, "Scaling Language Models: ... Gopher", Appendix A1.1 —
    the standard heuristic gate most curation pipelines run before any
    model-based scoring): word-count bounds, mean-word-length window
    [3, 10], ≥80% of words containing a letter, ≤10% symbol-ish words
    (#, ellipsis), ≤90% of lines bullet-led, ≤30% of lines
    ellipsis-ended, and at least two distinct Gopher stop words present.
    Returns the per-document signals plus a combined ``passes`` flag —
    keep the signals, not just the verdict, so thresholds can be re-cut
    without recomputing (the 100 TB-scale reason this returns columns
    rather than filtering).

    Words are whitespace-split (punctuation stays attached, as the rule
    intends) with the class SPELLED OUT — Java's ``\\s`` includes
    vertical tab, RE2/DuckDB's does not, so a bare ``\\s+`` diverges
    cross-engine on documents containing ``\\x0B`` (same fix as
    ``bpe_token_estimate``); everything is a pure column expression over
    the split arrays — one scan, no shuffle, no UDF."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(raw), "[ \\t\\n\\x0B\\f\\r]+"),
                     lambda w: w != "")
    lines = F.filter(F.split(raw, "\n"),
                     lambda line: F.trim(line) != "")
    n_words = F.size(words)
    n_lines = F.size(lines)
    dn = F.greatest(n_words, F.lit(1)).cast("double")
    dl = F.greatest(n_lines, F.lit(1)).cast("double")
    mean_wl = F.round(
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w)) / dn, decimals)
    frac_alpha = F.round(
        F.size(F.filter(words, lambda w: w.rlike(r"\p{L}"))) / dn,
        decimals)
    frac_symbol = F.round(
        F.size(F.filter(words, lambda w: w.contains("#")
                        | w.contains("...") | w.contains("…"))) / dn,
        decimals)
    frac_bullet = F.round(
        F.size(F.filter(lines, lambda line: F.trim(line)
                        .rlike(r"^[\-\*•‣◦]"))) / dl,
        decimals)
    frac_ellipsis = F.round(
        F.size(F.filter(lines, lambda line:
                        F.trim(line).rlike(r"(\.\.\.|…)$"))) / dl,
        decimals)
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        hit = F.array_contains(words, s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    # ``keep``: extra input columns passed through the (single-scan)
    # signal projection, so composed pipelines (curate_corpus) ride
    # their own columns on THIS scan instead of re-scanning the corpus
    # and joining back by id
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        frac_symbol.alias("frac_symbol_words"),
        frac_bullet.alias("frac_bullet_lines"),
        frac_ellipsis.alias("frac_ellipsis_lines"),
        stop_hits.cast("int").alias("stopword_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("frac_symbol_words") <= 0.1)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
        # the stop-word list is English; multilingual pipelines set
        # min_stopword_hits=0 and gate per-language instead (CCNet
        # doesn't apply English stop words to non-English slices)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn("passes", passes)


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    decimals: int = 4,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean token log-score under a bigram LM with Stupid
    Backoff (public technique: Brants et al. 2007, "Large Language
    Models in Machine Translation" — the web-scale smoothing that needs
    no discounting pass): token t_i after t_{i-1} scores
    ``ln(count(t_{i-1} t_i) / count(t_{i-1}))`` when the bigram was seen
    in training, else ``ln(alpha) + ln(S_uni(t_i))``; a document's first
    token scores ``ln(S_uni)`` directly, where ``S_uni(w) = count(w)/N``
    for in-vocabulary tokens and the OOV floor ``alpha/N`` otherwise.
    The LM trains on ``train_df`` (default: ``df`` itself — note that
    self-training makes every observed bigram in-model, so backoff only
    fires cross-corpus, the CCNet-style use: score a new crawl under a
    reference corpus's model). The context-sensitive step up from
    ``unigram_logprob_scores``, still fully SQL-expressible (hence
    oracle-checkable). Returns ``(id_col, n_tokens, mean_logprob)`` for
    docs with ≥1 token; higher (closer to 0) = more typical phrasing.

    Scale shape: two training-side frequency aggregates (unigram,
    bigram — both map-side combined, absorbing stop-word/stock-phrase
    skew per map partition), then the exploded (doc, prev, token) stream
    takes three token-keyed joins (unigram logprob, previous-token
    count, bigram count) and one per-doc re-aggregate. Neither frequency
    table is broadcast by hand — a 100 TB corpus has billions of bigram
    types, so they shuffle like any fact-fact join and AQE broadcasts
    the ones that are actually small."""
    import math

    def _occ(frame):
        src = frame.select(F.col(id_col).alias("id"),
                           F.col(text_col).alias("__t"))
        t = src.select("id", tokens("__t").alias("__toks"))
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("__toks")),
            lambda i: F.struct(
                F.element_at("__toks", i).alias("token"),
                F.when(i > 1, F.element_at("__toks", i - 1)).alias("prev")))
        return (t.where(F.size("__toks") >= 1)
                .select("id", F.explode(pairs).alias("x"))
                .select("id", "x.token", "x.prev"))

    occ = _occ(df)
    train = occ if train_df is None else _occ(train_df)
    uni = train.groupBy("token").agg(F.count("*").alias("__c"))
    total = uni.agg(F.sum("__c").alias("__n"))
    uni = uni.crossJoin(F.broadcast(total)).select(
        "token", "__c", (F.log("__c") - F.log("__n")).alias("__ulp"))
    bi = (train.where(F.col("prev").isNotNull())
          .groupBy("prev", "token").agg(F.count("*").alias("__bc")))
    # OOV floor needs N on every scored row: one-row broadcast join
    occ = occ.crossJoin(F.broadcast(total))
    ulp_eff = F.coalesce(
        F.col("__ulp"), F.lit(math.log(alpha)) - F.log("__n"))
    lp = (
        F.when(F.col("prev").isNull(), ulp_eff)
        .when(F.col("__bc").isNotNull(), F.log("__bc") - F.log("__pc"))
        .otherwise(F.lit(math.log(alpha)) + ulp_eff)
    )
    scored = (
        occ.join(uni.select("token", "__ulp"), "token", "left")
        .join(uni.select(F.col("token").alias("prev"),
                         F.col("__c").alias("__pc")), "prev", "left")
        .join(bi, ["prev", "token"], "left")
        .select("id", lp.alias("__lp"))
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_tokens"),
             F.round(F.avg("__lp"), decimals).alias("mean_logprob"))
        .select(F.col("id").alias(id_col), "n_tokens", "mean_logprob")
    )


def trigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    decimals: int = 4,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean token log-score under a TRIGRAM LM with Stupid
    Backoff (Brants et al. 2007) — one context order up from
    ``bigram_logprob_scores``: token t_i after (t_{i-2}, t_{i-1})
    scores the trigram ratio when that trigram was seen in training,
    else ``ln(alpha)`` + the bigram score, which itself backs off by
    another ``ln(alpha)`` to the unigram (with the same OOV floor
    ``alpha/N``). A document's first token scores at the unigram
    level, its second at the bigram level. Returns
    ``(id_col, n_tokens, mean_logprob)``.

    Scale shape: three training-side frequency aggregates (unigram,
    bigram, trigram — all map-side combined); the exploded
    (doc, prev2, prev, token) stream then takes five keyed joins
    (unigram for token and prev, bigram for (prev, token) and the
    trigram context (prev2, prev), trigram) and one per-doc
    re-aggregate. Nothing is broadcast by hand — a web corpus has
    billions of trigram types; AQE broadcasts the tables that are
    actually small."""
    import math

    def _occ(frame):
        src = frame.select(F.col(id_col).alias("id"),
                           F.col(text_col).alias("__t"))
        t = src.select("id", tokens("__t").alias("__toks"))
        triples = F.transform(
            F.sequence(F.lit(1), F.size("__toks")),
            lambda i: F.struct(
                F.element_at("__toks", i).alias("token"),
                F.when(i > 1, F.element_at("__toks", i - 1)).alias("prev"),
                F.when(i > 2, F.element_at("__toks", i - 2)).alias("prev2")))
        return (t.where(F.size("__toks") >= 1)
                .select("id", F.explode(triples).alias("x"))
                .select("id", "x.token", "x.prev", "x.prev2"))

    occ = _occ(df)
    train = occ if train_df is None else _occ(train_df)
    uni = train.groupBy("token").agg(F.count("*").alias("__c"))
    total = uni.agg(F.sum("__c").alias("__n"))
    uni = uni.crossJoin(F.broadcast(total)).select(
        "token", "__c", (F.log("__c") - F.log("__n")).alias("__ulp"))
    bi = (train.where(F.col("prev").isNotNull())
          .groupBy("prev", "token").agg(F.count("*").alias("__bc")))
    tri = (train.where(F.col("prev2").isNotNull())
           .groupBy("prev2", "prev", "token")
           .agg(F.count("*").alias("__tc")))
    occ = occ.crossJoin(F.broadcast(total))
    ulp_eff = F.coalesce(
        F.col("__ulp"), F.lit(math.log(alpha)) - F.log("__n"))
    bi_lp = (
        F.when(F.col("__bc").isNotNull(), F.log("__bc") - F.log("__pc"))
        .otherwise(F.lit(math.log(alpha)) + ulp_eff))
    lp = (
        F.when(F.col("prev").isNull(), ulp_eff)
        .when(F.col("prev2").isNull(), bi_lp)
        .when(F.col("__tc").isNotNull(), F.log("__tc") - F.log("__cc"))
        .otherwise(F.lit(math.log(alpha)) + bi_lp)
    )
    scored = (
        occ.join(uni.select("token", "__ulp"), "token", "left")
        .join(uni.select(F.col("token").alias("prev"),
                         F.col("__c").alias("__pc")), "prev", "left")
        .join(bi, ["prev", "token"], "left")
        .join(bi.select(F.col("prev").alias("prev2"),
                        F.col("token").alias("prev"),
                        F.col("__bc").alias("__cc")),
              ["prev2", "prev"], "left")
        .join(tri, ["prev2", "prev", "token"], "left")
        .select("id", lp.alias("__lp"))
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_tokens"),
             F.round(F.avg("__lp"), decimals).alias("mean_logprob"))
        .select(F.col("id").alias(id_col), "n_tokens", "mean_logprob")
    )


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (public technique: Schleimer,
    Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS scheme): hash every ``k``-gram of the
    token stream, then keep the MINIMUM hash of each ``window`` of
    consecutive k-gram hashes. The selected set is a ~2/(window+1)
    density sample with the winnowing guarantee: any match of at least
    ``window + k - 1`` tokens between two documents shares at least one
    selected fingerprint — unlike fixed-stride sampling, which can
    misalign and miss. Returns one row per distinct (doc, fingerprint);
    group by ``fp`` for the inverted index that finds partial overlaps.
    Fingerprints are 60-bit longs (``md5_long`` — the window minimum is
    a numeric min; ~4× fewer shuffle bytes than the 32-hex strings the
    first version carried, same winnowing guarantee).

    Everything is a column expression over the token array (k-gram
    hashes and per-window minima inside ``transform`` — no explode until
    the final distinct), so cost rides the token count, all codegen."""
    src = df.select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("__t"))
    t = src.select("id", tokens("__t").alias("__toks"))
    n_grams = F.size("__toks") - (k - 1)
    hs = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            lambda i: md5_long(F.array_join(F.slice("__toks", i + 1, k), " "))),
    ).otherwise(F.expr("array()").cast("array<bigint>"))
    h = t.select("id", hs.alias("__hs"))
    n_win = F.size("__hs") - (window - 1)
    fps = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda j: F.array_min(F.slice("__hs", j + 1, window))),
    ).otherwise(F.col("__hs"))  # short docs: every k-gram hash survives
    return (
        h.select("id", F.explode_outer(F.array_distinct(fps)).alias("fp"))
        .where(F.col("fp").isNotNull())
        .select(F.col("id").alias(id_col), "fp")
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    stratum_col: str | None = None,
    bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Fixed-bin histogram of a value column, optionally per stratum —
    the data-card companion to ``stratum_quantiles`` (quantiles answer
    "where are the thresholds", the histogram answers "what does the
    distribution look like"). Bin i covers [lo + i·w, lo + (i+1)·w) with
    w = (hi-lo)/bins; values at or beyond the edges clamp into the first/
    last bin so finite mass is never silently dropped. NULL and NaN
    values are EXCLUDED from the histogram (NaN has no orderable bin;
    clamping it to bin 0 would silently misplace it — count NaNs
    separately if they are a signal). Returns
    ``(stratum?, bin_idx, bin_lo, n)`` — one aggregation pass, bin
    assignment a pure scan-stage expression (map-side combinable: at
    100 TB the shuffle carries ≤ strata·bins rows per map partition)."""
    v = F.col(value_col).cast("double")
    w = (hi - lo) / bins
    idx = F.least(F.lit(bins - 1), F.greatest(F.lit(0), F.floor(
        (v - F.lit(lo)) / F.lit(w)).cast("int")))
    keys = ([F.col(stratum_col).alias("stratum")] if stratum_col else []) \
        + [idx.alias("bin_idx")]
    out = (df.where(v.isNotNull() & ~F.isnan(v)).groupBy(*keys)
           .agg(F.count("*").cast("long").alias("n")))
    return out.withColumn(
        "bin_lo", F.round(F.lit(lo) + F.col("bin_idx") * F.lit(w), 6)
    ).select(*(["stratum"] if stratum_col else []),
             "bin_idx", "bin_lo", "n")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Deterministic text normalization — the first step of a curation
    pipeline, applied before any hashing/dedup so trivially-different
    encodings of the same content collapse: strip control characters
    (except newline/tab, which become spaces), collapse all whitespace
    runs to single spaces, trim. Returns the input plus ``out_col`` and
    ``n_changed_chars`` (length delta — a cheap corruption signal:
    documents losing many characters here were control-char soup).

    Pure ``regexp_replace`` column expressions, codegen end to end; the
    character classes are chosen to behave identically under Java regex
    (Spark) and RE2-style engines so the step stays oracle-verifiable.
    Unicode canonicalization (NFC/NFKC) needs ICU and is intentionally
    out of scope — at that point you want a real Unicode library behind
    a pandas UDF, not a regex."""
    c = F.col(text_col)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""),
            r"\s+", " "))
    return df.withColumn(out_col, cleaned).withColumn(
        "n_changed_chars",
        (F.length(c) - F.length(F.col(out_col))).cast("long"))

def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
    decimals: int = 6,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic keyword
    extractor (Salton & Buckley 1988), used downstream for topic
    balancing and near-dup triage. Output: one row per (doc, rank) with
    ``(doc_id, token, tf, doc_freq, tfidf, rank)``; ``idf`` is the
    textbook ``ln(N / df)`` with N = input row count.

    Scale shape: tokenize once; groupBy (doc, token) for tf (map-side
    combinable — stop-word skew collapses per map partition); the
    document-frequency table derives from the *already aggregated* tf
    rows (one row per (doc, token)), so the second shuffle moves far
    fewer bytes than the raw token stream; the tf⟕df join is
    token-keyed (AQE broadcasts the df side when the vocabulary is
    small); the final top-k is a row_number window partitioned by doc —
    bounded by per-doc vocabulary, never a global sort. N comes from one
    driver ``count()`` (a scalar, not a collected table).

    Determinism: ranking compares the ROUNDED score (identical quantized
    doubles on both engines) with a token-ascending tie-break, so equal
    (tf, df) pairs order identically in Spark and the SQL oracle.
    """
    n_docs = df.count()
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    occ = (src.select("id", F.explode_outer(tokens("__t")).alias("token"))
              .where(F.col("token").isNotNull()))
    tf = occ.groupBy("id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("doc_freq") >= min_df)
    scored = tf.join(dfreq, "token").select(
        "id", "token", "tf", "doc_freq",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("doc_freq").cast("double")),
            decimals,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(F.col("id").alias(id_col), "token",
                          F.col("tf").cast("long").alias("tf"),
                          F.col("doc_freq").cast("long").alias("doc_freq"),
                          "tfidf", F.col("rank").cast("int").alias("rank")))
