"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python in the per-row path.  Each operator has an
exact ANSI-SQL twin (used by the DuckDB oracle), so results are engine-
checkable, which is why hashes use md5 (portable) rather than xxhash64
(Spark-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Minimal per-language stopword anchors for the n-gram/stopword heuristic.
# Chosen to be disjoint across languages so the score argmax is stable.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "una", "es"],
}


def normalize_text(col: Column) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_tokens(col: Column) -> Column:
    """Array of lowercase word tokens (letters/digits runs) — the BPE-ish
    pre-tokenization regex: splits on any non-alphanumeric run.

    array_remove, not a filter() lambda: lambda HOFs run interpreted (no
    codegen) and cost real wall time in hot paths; array_remove is a plain
    codegen'd collection expression with identical semantics here (split
    never yields nulls, only possibly-empty strings)."""
    return F.array_remove(F.split(F.lower(col), r"[^\p{L}\p{N}]+"), "")


def gram_structs(toks: Column, n: int) -> Column:
    """Array of word n-grams as structs of n shifted tokens — pure codegen.

    The obvious ``transform(sequence(0, k-n), i -> array_join(slice(toks,
    i+1, n)))`` is quadratic in document length: Catalyst inlines the token
    expression into the lambda body, so every gram index re-tokenizes the
    whole document, and lambdas are interpreted besides (measured 90 s vs
    ~1 s for this formulation on the sf0.1 corpus sweep).  arrays_zip over
    n shifted slices materializes the token array O(n) times total and
    stays inside whole-stage codegen.  Join a gram after explode with
    ``concat_ws(" ", z["0"], …, z["n-1"])`` (see gram_join)."""
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(toks, F.lit(i + 1), count) for i in range(n)])


def gram_join(struct_col: str, n: int) -> Column:
    """Space-joined gram string from one exploded gram_structs element."""
    return F.concat_ws(" ", *[F.col(f"{struct_col}.{i}") for i in range(n)])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape quality signals.

    One projection pass; every feature is a codegen'd expression.  The
    classic heuristic filters (strip docs that are too short, too punctuated,
    too repetitive) become plain ``WHERE`` clauses over these columns.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = token_count(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?\"'`]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_space = F.length(t) - F.length(F.regexp_replace(t, r" ", ""))
    stop_hits = _stopword_hits(t, LANG_STOPWORDS["en"])
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        toks.alias("q_n_tokens"),
        (n_chars / F.greatest(toks, F.lit(1))).alias("q_mean_token_len"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1))).alias("q_digit_ratio"),
        (n_upper / F.greatest(n_chars, F.lit(1))).alias("q_upper_ratio"),
        (n_space / F.greatest(n_chars, F.lit(1))).alias("q_space_ratio"),
        (stop_hits / F.greatest(toks, F.lit(1))).alias("q_stopword_ratio"),
    )


def _padded(t: Column) -> Column:
    """' ' || normalized text || ' ' — the probe string for standalone-word
    counting.  Materialize this ONCE per row (a projection) before fanning
    out to many stopword counters: passing the raw expression would inline
    the normalize regex into every derived expression (~25 copies for the
    4-language scorer), which dominated lang_id's runtime."""
    return F.concat(F.lit(" "), normalize_text(t), F.lit(" "))


def _stopword_hits_padded(padded: Column, words: list[str]) -> Column:
    """Occurrences of any stopword as a standalone word over a pre-padded
    normalized text column, via the substring-count trick — identical
    semantics in ANSI SQL:
      (len(x) - len(replace(x, ' w ', '  '))) / (len(' w ')-2) per word."""
    hits = []
    for w in words:
        pat = f" {w} "
        # each removal shortens by len(pat); count = removed // len(pat)
        # overlapping " a a " cases are handled identically in both engines
        hits.append(
            (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit(" "))))
            / F.lit(len(pat) - 1)
        )
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return F.floor(out)


def _stopword_hits(t: Column, words: list[str]) -> Column:
    return _stopword_hits_padded(_padded(t), words)


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-anchor language ID (n-gram heuristic family).

    Scores each language by standalone stopword TOKEN counts; argmax with
    a fixed tie-break order (en > de > fr > es > unknown).  Pure column
    expressions → distributes trivially.

    Scoring contract (unchanged since round 10): counts of STANDALONE
    stopword tokens of the space-normalized text — what the DuckDB twin
    spells with list_filter(string_split(...)); adjacent repeats count
    fully (" the the " = 2).

    Perf lineage: 20 per-word replace() counters (r9) → one lookaround
    alternation ``(?<= )(w1|…|wn)(?= )`` regexp_count per LANGUAGE (r10,
    1.7× at sf0.1) → ONE regexp_extract_all over the union alternation
    (the per-language lists are disjoint) with per-language counts as
    filters over the extracted-hits array (r12, a further 2.15× measured
    at sf1: regex scans cost O(text), the filter lambdas — interpreted,
    but over the few-element hits array — cost O(hits)) → the extract
    runs DIRECTLY on lower(text) with whitespace-boundary lookarounds
    (r13): the space-normalize replace pass and the padding concat were
    a second full-text regex scan + copy per row, and "standalone token
    of the normalized text" ≡ "run delimited by whitespace-or-boundary
    in the raw text", so fusing them is count-identical (pinned against
    the replace-trick scorer in tests).  The blocklist/quality counters
    keep the replace trick and its contract.
    """
    hcol = "__stophits"
    while hcol in df.columns:  # never clobber a caller's column
        hcol += "_"
    all_words = [w for ws in LANG_STOPWORDS.values() for w in ws]
    with_padded = df.withColumn(
        hcol,
        F.regexp_extract_all(
            F.lower(F.col(text_col)),
            F.lit(
                "(?:^|(?<=\\s))(" + "|".join(all_words) + ")(?:$|(?=\\s))"
            ),
            1,
        ),
    )
    def _in_list(words):
        # isin() is unsupported on HOF lambda variables; OR-fold instead
        def f(x):
            cond = x == F.lit(words[0])
            for w in words[1:]:
                cond = cond | (x == F.lit(w))
            return cond

        return f

    scores = {
        lang: F.size(F.filter(F.col(hcol), _in_list(ws)))
        for lang, ws in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("unknown")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("unknown")).otherwise(pred)
    return with_padded.select(*df.columns, pred.alias(out_col))


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Deterministic 128-bit content fingerprint: md5 of normalized text.

    Portable across engines (the oracle computes the identical md5).  For
    shift-robust fingerprints use pipeline.dedup.simhash / minhash_signatures.
    """
    return df.select("*", F.md5(normalize_text(F.col(text_col))).alias(out_col))


# PII patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround.
PII_PATTERNS: list[tuple[str, str]] = [
    # email before phone: an email's digits must not be half-eaten first
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IP before phone: dotted quads are not phone numbers
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9()\-\. ]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Replace emails / IPv4 addresses / phone-like digit runs with typed
    placeholder tokens — the standard pre-training scrub pass.

    Chained codegen regexp_replace (ordered so overlapping matches resolve
    deterministically: email, then IP, then phone); linear, no shuffle, and
    the same patterns run verbatim in the DuckDB oracle.
    """
    out = F.col(text_col)
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(out_col or text_col, out)


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus n-gram frequencies: (gram, n_docs, n_occurrences), most
    frequent first with a deterministic gram tie-break.

    explode word n-grams (keeping repeats, so n_occurrences counts every
    occurrence) → one hash aggregate on the gram → optional top-k via
    TakeOrderedAndProject.  ``id_col`` must identify documents (a
    synthesized monotonically_increasing_id would be re-evaluated per
    EXPLODED row by the Generate operator, silently making n_docs ==
    n_occurrences).  The shuffle key is the gram string — the classic
    corpus-statistics shape; at 100 TB add a salt-presplit on the handful
    of stopword-pair grams if AQE's skew handling is not enough.
    """
    # Project the token array into its own attribute BEFORE the explode
    # (round-16 optimization): gram_structs references its input 2n
    # times (n shifted slices + their size bounds), and when the
    # tokenizer expression is inlined into the Generate operator every
    # reference re-splits the document — 4 full tokenizations per row
    # for bigrams (plan-verified).  A Project below Generate survives
    # optimization (Catalyst collapses Project into Project, not into
    # Generate), so the split runs once and the slices re-read the
    # materialized array.
    base = df.select(
        F.col(id_col).alias("__doc"), word_tokens(F.col(text_col)).alias("__toks")
    )
    ex = base.select(
        "__doc", F.explode(gram_structs(F.col("__toks"), n)).alias("__g")
    ).select("__doc", gram_join("__g", n).alias("gram"))
    out = ex.groupBy("gram").agg(
        F.count_distinct("__doc").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )
    if top_k is not None:
        # sort only here, where TakeOrderedAndProject makes it cheap — a
        # global sort of the full gram table is the caller's choice
        return out.orderBy(F.desc("n_occurrences"), "gram").limit(top_k)
    return out


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document repetition signals — the Gopher/C4 family of quality
    filters (fraction of duplicated words, fraction of characters inside
    the most frequent word n-gram).  Heavily repeated boilerplate scores
    high on both and is filtered with a plain WHERE clause.

    Shape (scale-first): ONE scan of the corpus.  Row-local stats
    (n_words, dup-word fraction — array_distinct is linear per row) are
    computed before the gram explode and carried through the two doc-keyed
    hash aggregates as first() values, so there is no second scan and no
    join; explode_outer keeps gram-less documents.  Two shuffles keyed by
    doc id, no O(len²) per-row loops, no window over the whole corpus.
    Tie-break for equal counts is the lexicographically smallest gram
    (deterministic across engines).

    Output: id, n_words, dup_word_frac, top_gram, top_gram_count,
    top_gram_char_frac.  Docs with < n words get top_gram='' / count 0.
    """
    toks = word_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__n_chars"),
        toks.alias("__w"),
    ).withColumn("__n_words", F.size("__w"))
    ex = base.select(
        id_col,
        "__n_chars",
        F.col("__n_words").alias("n_words"),
        # empty docs have nothing duplicated (without the guard the
        # 0-distinct/1 floor would score them 1.0)
        F.when(F.col("__n_words") == 0, F.lit(0.0))
        .otherwise(1 - F.size(F.array_distinct("__w")) / F.col("__n_words"))
        .alias("dup_word_frac"),
        # explode_outer: a doc with < n words has no grams but must survive
        F.explode_outer(gram_structs(F.col("__w"), n)).alias("__g"),
    ).select(
        id_col,
        "__n_chars",
        "n_words",
        "dup_word_frac",
        F.when(F.col("__g").isNotNull(), gram_join("__g", n)).alias("gram"),
    )
    gc = ex.groupBy(id_col, "gram").agg(
        F.count(F.col("gram")).alias("cnt"),  # 0 for the null-gram row
        F.first("__n_chars").alias("__n_chars"),
        F.first("n_words").alias("n_words"),
        F.first("dup_word_frac").alias("dup_word_frac"),
    )
    # max count, then smallest gram: min over the (-cnt, gram) ordering.
    # The null-gram row exists only for docs with NO grams (explode_outer),
    # so it never competes with a real gram; coalesce in the ordering key
    # just keeps the struct comparison null-free.
    top = gc.groupBy(id_col).agg(
        F.min_by(
            F.struct("gram", "cnt"),
            F.struct(
                (-F.col("cnt")).alias("nc"), F.coalesce("gram", F.lit("")).alias("g")
            ),
        ).alias("__top"),
        F.first("__n_chars").alias("__n_chars"),
        F.first("n_words").alias("n_words"),
        F.first("dup_word_frac").alias("dup_word_frac"),
    )
    return top.select(
        id_col,
        "n_words",
        "dup_word_frac",
        F.coalesce(F.col("__top.gram"), F.lit("")).alias("top_gram"),
        F.coalesce(
            F.when(F.col("__top.gram").isNotNull(), F.col("__top.cnt")), F.lit(0)
        ).alias("top_gram_count"),
        (
            F.coalesce(
                F.when(
                    F.col("__top.gram").isNotNull(),
                    F.col("__top.cnt") * F.length("__top.gram"),
                ),
                F.lit(0),
            )
            / F.greatest("__n_chars", F.lit(1))
        ).alias("top_gram_char_frac"),
    )


def blocklist_hits(
    col: Column, terms: list[str]
) -> Column:
    """Count of blocklist-term occurrences as STANDALONE words of the
    normalized text (the C4 badwords-filter primitive, generalized).
    Same padded substring-count trick as the stopword scorers — pure
    codegen, ANSI-SQL-restatable, no regex per term."""
    return _stopword_hits_padded(_padded(col), [t.lower() for t in terms])


def blocklist_filter(
    df: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """Documents with ZERO standalone occurrences of any blocklist term.

    One projection + filter — the whole gate is a codegen expression; at
    100 TB this is a map-only scan with the filter pushed against the
    text column read.  For large term lists (>~100), switch to a single
    alternation regex compiled once (rlike) — the per-term substring
    counters are linear in term count.
    """
    return df.filter(blocklist_hits(F.col(text_col), terms) == 0)


#: Gopher/C4-flavored acceptance window over quality_features columns —
#: each rule is (column, lo, hi); None = unbounded.  Defaults follow the
#: published heuristics scaled to toy corpora: length window, mean token
#: length window, punctuation/digit caps, minimum stopword presence.
DEFAULT_QUALITY_RULES: list[tuple] = [
    ("q_n_tokens", 5, 100_000),
    ("q_mean_token_len", 2.0, 12.0),
    ("q_punct_ratio", None, 0.2),
    ("q_digit_ratio", None, 0.3),
    ("q_stopword_ratio", 0.01, None),
]


def quality_filter(
    df: DataFrame,
    rules: list[tuple] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Documents passing every quality rule (the Gopher/C4 heuristic
    gate): computes quality_features once, then one conjunctive WHERE.
    Rules are data, not code — a pipeline tunes thresholds without
    touching the operator; every predicate stays codegen and restates
    directly in SQL for the oracle."""
    out = quality_features(df, text_col)
    cond = F.lit(True)
    for col, lo, hi in rules if rules is not None else DEFAULT_QUALITY_RULES:
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return out.filter(cond).select(*df.columns)


# -- winnowing fingerprints (rolling-hash local fingerprinting) -----------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word k-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum.  Any shared run of
    >= w+k-1 tokens between two documents is guaranteed to share a
    fingerprint, while only ~2/(w+1) of all gram hashes are kept — the
    classic local (shift-robust) fingerprinting scheme, vs the global
    md5 of ``fingerprint()`` above.  Returns distinct (id, fingerprint).

    The paper's rolling (Rabin-Karp) hash is an O(1)-update trick for
    sequential scanners; vectorized over a column, hashing each gram
    directly is the same function of the same k-grams.  The hash is the
    leading 32 bits of md5 — engine-portable (conv/nibble-parse), so the
    DuckDB oracle reproduces fingerprints bit-exactly.

    Plan: gram_structs shifted-slice zip (codegen, no lambda
    re-evaluation) -> posexplode -> md5 prefix -> ONE window exchange on
    the document id for the sliding minimum (per-doc data is one
    partition's worth — document length, not corpus size) -> distinct.
    Short documents (fewer than w gram hashes) contribute the minimum of
    all their hashes: the window frame clips at the partition edge in
    Spark and DuckDB alike, so the one surviving window (pos 0) is
    already that minimum.
    """
    from pyspark.sql import Window

    # tokens projected into an attribute before the explode so the
    # k-gram slices re-read one materialized array instead of inlining
    # 2k re-tokenizations into the Generate (see ngram_counts)
    grams = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.posexplode(gram_structs(F.col("__toks"), k)).alias("pos", "__g"),
    ).select(
        id_col,
        "pos",
        F.conv(F.substring(F.md5(gram_join("__g", k)), 1, 8), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    sliding = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy(id_col)
    sel = grams.select(
        id_col,
        "pos",
        F.min("__h").over(sliding).alias("fingerprint"),
        F.count("*").over(whole).alias("__n"),
    ).filter(F.col("pos") <= F.greatest(F.col("__n") - w, F.lit(0)))
    return sel.select(id_col, "fingerprint").distinct()


def winnow_similar_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 50,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the MOSS-style local-overlap detector (catches plagiarised/quoted
    SPANS that whole-document hashing and even shingle-set Jaccard
    dilute away).  Returns (a, b, shared) with a < b.

    Inverted-index shape: group by fingerprint, emit intra-group pairs,
    count per pair.  ``max_df`` drops fingerprints present in more than
    that many documents BEFORE pairing (boilerplate/stopword grams —
    the df-cut every inverted index applies); it bounds per-fingerprint
    group size B, so pair fan-out is O(B^2) per fingerprint with B
    capped — the same discipline as the LSH banding's hot-bucket cap.
    The cut is part of the operator's semantics (deterministic, and
    reproduced verbatim by the oracle SQL), not a sampling shortcut.

    The fingerprint set feeds THREE plan branches (df-count, left and
    right sides of the pair join — and the df-cut join puts the first
    two UNDER each pair side, so an unmaterialized plan replays the
    tokenize+gram+md5+window pipeline four times; the round-16 audit
    plan showed 4 document scans).  The compact distinct (id,
    fingerprint) frame is therefore materialized once, by an eager
    ``localCheckpoint``, and every branch reads those blocks.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).localCheckpoint(
        eager=True
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fingerprint")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fingerprint")
        )
        fps = fps.join(keep, "fingerprint")
    left = fps.select(F.col("fingerprint"), F.col(id_col).alias("a"))
    right = fps.select(F.col("fingerprint"), F.col(id_col).alias("b"))
    pairs = left.join(right, "fingerprint").filter(F.col("a") < F.col("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# -- characteristic terms (tf-idf family) ---------------------------------


def top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_tf: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document, ranked by a tf-idf
    score — the classic corpus-statistics op (keyword extraction,
    nearest-duplicate explanation, topic drift monitoring).

    The idf factor is the BM25 rational form ``(N - df + 0.5) /
    (df + 0.5)`` rather than a logarithm: same monotonicity (rare term
    -> big weight), but composed of IEEE-exact double ops on integers,
    so Spark and DuckDB produce BIT-IDENTICAL scores and the oracle
    compare can be hash-exact (a transcendental ln may differ in the
    last ulp between libm builds).  Scores are emitted as integer
    micro-units (the cross-engine canonicalization SCALE.md documents).

    Plan: tokenize+explode -> ONE hash aggregate on (doc, term) for tf
    (map-side combine collapses repeats) -> term df by a count over the
    already-distinct (doc, term) pairs (second aggregate, vocabulary-
    sized output) -> join tf*idf (shuffle keyed on the term; AQE
    broadcasts the vocabulary side when it fits) -> per-doc top-k via
    row_number with a deterministic (score desc, term asc) order.  At
    100 TB the term-keyed exchanges carry (doc, term) pairs, not text;
    stopword-grade hot terms are exactly the low-idf ones, so skew salt
    is rarely needed — AQE's skew split covers the rest.
    """
    from pyspark.sql import Window

    toks = word_tokens(F.col(text_col))
    # tf feeds TWO branches (the vocabulary df aggregate and the scoring
    # join's left side); unmaterialized, each branch replays the
    # tokenize+explode+aggregate (round-16 audit plan: 2 document
    # scans).  Materialize the (doc, term, tf) aggregate once — the same
    # lever build_bm25_index uses for its tf frame.
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("tf") >= min_tf)
        .localCheckpoint(eager=True)
    )
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").select(
        id_col,
        "term",
        "tf",
        "df",
        # keep the expression shape IDENTICAL to the oracle SQL: the
        # double ops are IEEE-exact only under the same evaluation order
        F.expr(
            f"CAST(round(tf * (({n_docs} - df + 0.5) / (df + 0.5)) * 1000000)"
            " AS BIGINT)"
        ).alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score_micro")
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    blockwords: tuple[str, ...] = ("lorem ipsum", "javascript", "{"),
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): rewrite
    each document keeping only lines that (a) end in terminal
    punctuation . ! ? ", (b) have at least ``min_line_words`` words,
    and (c) contain no blocked phrase (case-insensitive).  Documents
    whose every line is dropped come out as empty strings — compose
    with a ``length(text) > 0`` filter or quality_filter to drop them.

    Shape: one projection — split on newlines, filter() over the line
    array (an interpreted HOF, but over a document's FEW lines, the
    lang_id hits-array pattern — the per-character work of splitting
    stays codegen), re-join with the newline preserved.  No explode, no
    shuffle, no Python.

    Note: the driver's synthetic documents table is single-line,
    punctuation-free word salad, so this operator is pinned by pytest
    fixtures instead of a gate query (a corpus-degenerate oracle row
    would verify nothing).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def keep(line):
        cond = F.length(F.trim(line)) > 0
        if require_terminal_punct:
            cond = cond & F.trim(line).rlike('[.!?"]$')
        if min_line_words > 0:
            cond = cond & (
                F.size(F.array_remove(F.split(F.trim(line), r"\s+"), ""))
                >= min_line_words
            )
        for w in blockwords:
            cond = cond & ~F.lower(line).contains(w.lower())
        return cond

    return df.withColumn(
        text_col, F.array_join(F.filter(lines, keep), "\n")
    )
