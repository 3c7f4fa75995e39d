"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language-ID heuristic,
document fingerprinting. All hot-path logic is built-in column
expressions (JVM-side, whole-stage codegen) — no Python UDFs.

These extend the reference's string surface (SURVEY.md §2.9 F1) to the
document-corpus domain; designed so one scan of a 100 TB `documents`
table computes every feature (no per-feature rescans).

`ngrams(arr, n, join)` is the one builder of n-adjacent-element
windows: word n-grams, bigram pairs, and (over per-token hashes) the
MinHash shingle-hash chain all come from it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-language stopword lists for the stopword-hit heuristic, drawn
# from standard public function-word inventories (the usual NLTK/ISO
# high-frequency closed-class words). Insertion order is the
# deterministic tie-break precedence; words containing single quotes
# are deliberately excluded so the generated DuckDB oracle IN-lists
# need no escaping. Lists are swappable — the operator's shape
# (one explode, argmax of per-language hit ratios) is what scales.
STOPWORDS = {
    "en": [
        "the", "a", "an", "and", "or", "but", "of", "to", "in", "is",
        "are", "was", "were", "be", "been", "for", "on", "with", "as",
        "at", "by", "from", "that", "this", "these", "those", "it",
        "its", "not", "no", "he", "she", "they", "we", "you", "his",
        "her", "their", "our", "have", "has", "had", "will", "would",
        "can", "could", "should", "about", "into", "than",
    ],
    "de": [
        "der", "die", "das", "und", "oder", "aber", "ist", "sind",
        "war", "waren", "sein", "von", "mit", "für", "auf", "ein",
        "eine", "einen", "einem", "einer", "nicht", "kein", "keine",
        "zu", "im", "am", "bei", "nach", "aus", "über", "unter",
        "wenn", "dass", "als", "auch", "noch", "nur", "schon", "sich",
        "wir", "ihr", "sie", "er", "es", "ich", "du", "haben", "hat",
        "wird", "werden",
    ],
    "fr": [
        "le", "la", "les", "et", "ou", "mais", "est", "sont", "était",
        "de", "des", "du", "un", "une", "pour", "dans", "sur", "avec",
        "par", "pas", "ne", "que", "qui", "quoi", "ce", "cette", "ces",
        "il", "elle", "ils", "elles", "nous", "vous", "je", "tu", "se",
        "son", "sa", "ses", "leur", "leurs", "au", "aux", "en", "y",
        "plus", "moins", "être", "avoir", "fait",
    ],
    "es": [
        "el", "la", "los", "las", "y", "o", "pero", "es", "son", "era",
        "eran", "ser", "de", "del", "un", "una", "unos", "unas", "por",
        "con", "para", "en", "no", "sí", "que", "quien", "este", "esta",
        "estos", "estas", "él", "ella", "ellos", "ellas", "nosotros",
        "usted", "yo", "tú", "su", "sus", "al", "lo", "se", "me", "te",
        "más", "menos", "muy", "como", "cuando",
    ],
    "it": [
        "il", "lo", "la", "i", "gli", "le", "e", "o", "ma", "è",
        "sono", "era", "erano", "essere", "di", "del", "della", "un",
        "uno", "una", "per", "con", "in", "su", "non", "che", "chi",
        "questo", "questa", "questi", "queste", "lui", "lei", "loro",
        "noi", "voi", "io", "tu", "suo", "sua", "al", "dal", "nel",
        "si", "mi", "ti", "più", "meno", "molto", "come",
    ],
    "pt": [
        "o", "a", "os", "as", "e", "ou", "mas", "é", "são", "era",
        "eram", "ser", "de", "do", "da", "dos", "das", "um", "uma",
        "uns", "umas", "por", "com", "para", "em", "no", "na", "nos",
        "nas", "não", "sim", "que", "quem", "este", "esta", "ele",
        "ela", "eles", "elas", "nós", "eu", "tu", "seu", "sua", "ao",
        "se", "me", "te", "mais", "como",
    ],
    "nl": [
        "de", "het", "een", "en", "of", "maar", "is", "zijn", "was",
        "waren", "van", "met", "voor", "op", "in", "aan", "bij", "uit",
        "over", "onder", "niet", "geen", "te", "dat", "dit", "deze",
        "die", "hij", "zij", "ze", "wij", "we", "jullie", "ik", "je",
        "jij", "hun", "ons", "onze", "hebben", "heeft", "had", "wordt",
        "worden", "zal", "zou", "kan", "kunnen", "als", "ook",
    ],
    "sv": [
        "och", "eller", "men", "är", "var", "vara", "av", "med", "för",
        "på", "i", "en", "ett", "den", "det", "de", "dem", "som",
        "att", "till", "från", "om", "inte", "ingen", "han", "hon",
        "vi", "ni", "jag", "du", "sin", "sitt", "sina", "har", "hade",
        "ska", "skulle", "kan", "kunde", "när", "där", "här", "vad",
        "vem", "hur", "mer", "mindre", "mycket", "också", "efter",
    ],
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text; empty text → []."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.lower(c))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("int")


def ngrams(arr: Column, n: int, join=None) -> Column:
    """The one window builder: element i of the result combines the n
    adjacent elements arr[i..i+n-1] with `join` folded left, so
    ngrams(["a", "b", "c"], 2) is ["a b", "b c"]. The default `join`
    is the NULL-propagating `a || ' ' || b` (a NULL token yields a
    NULL gram, the semantics of the SQL oracles' `||` chains);
    `F.xxhash64` gives the MinHash hash chain, a struct gives pairs.

    Built from n slices of length greatest(size - n + 1, 0) combined
    by zip_with: O(L) per row. The tempting transform(slice,
    (t, i) -> element_at(arr, i + k)) form is O(L²) on an inline
    array (measured 13 s vs sub-second for one corpus pass at sf0.1).
    The clamp makes a short array yield [] instead of aborting the job
    on a negative slice length; a NULL array yields NULL. `arr` is
    referenced 2n times (a size and a slice per position), so pass a
    BOUND attribute (a prior `.select(tokens(...).alias("_toks"))`),
    never an inline tokenize: neither Generate evaluation nor codegen
    CSE collapses the repeats (measured 2.2× on a corpus gram scan);
    SPARK-36718 keeps such a multiply-referenced alias uncollapsed."""
    if n < 1:
        raise ValueError(f"ngrams needs n >= 1 (got {n})")
    if join is None:
        join = lambda a, b: F.concat(a, F.lit(" "), b)  # noqa: E731
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    acc = F.slice(arr, 1, m)
    for i in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(arr, i, m), lambda a, b: join(a, b))
    return acc


def bigram_pairs(toks: Column) -> Column:
    """Adjacent token pairs as struct(x, y), for consumers that need the
    tokens themselves (BPE pair counts, collocation PMI's per-token
    count joins)."""
    return ngrams(toks, 2, lambda a, b: F.struct(a.alias("x"), b.alias("y")))


# GPT-2-style pre-tokenizer pattern (contractions | space?-letter-run |
# space?-digit-run | space?-punct-run), with the original's trailing
# `\s+(?!\S)` lookahead dropped: RE2 (DuckDB's engine) has no
# lookahead, and for COUNTING, unmatched whitespace runs simply don't
# produce tokens. Verified to match between Java regex and RE2 on
# unicode (combining letters, CJK, number signs) — no engine-specific
# syntax used.
BPE_SPLIT_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def token_count_bpe(col: Column | str) -> Column:
    """Subword-style token count: how many pieces a BPE-family
    pre-tokenizer would split the RAW (case-preserved) text into —
    the cheap proxy for LLM token budgeting, vs the whitespace
    `token_count` used by the linguistic features."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_RE), 0)).cast("int")


def stopword_hits(toks: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) in the language's list."""
    lits = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lits, t)))


def token_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """One explode + codegen'd conditional aggregates computing every
    per-token statistic at once: n_tokens, total token length, and
    per-language stopword hit counts for `langs` (default: every
    STOPWORDS language — pass only what the caller consumes; each
    language is a ~50-literal isin chain per token row, so quality
    scoring, which needs only English, skips 7/8ths of the compares).

    Physical shape, chosen by |langs| (both value-identical, A/B'd at
    sf0.1):
    - ≤ 2 languages → ROW-LOCAL map, no explode, no shuffle: n_tokens
      and hits come from size()/filter() on a BOUND token-array
      attribute, and sum_token_len collapses to
      length(regexp_replace(trim(lower(text)), '\\s+', '')) — the
      token lengths are exactly the non-whitespace chars of the
      trimmed text. Measured 1.68 s → 0.39 s for quality_features
      (one language) — the per-doc agg shuffle was the whole cost.
    - more languages → one explode + codegen'd conditional counts:
      each interpreted higher-order `filter` traverses the array per
      language, so at 8 languages the codegen'd isin-per-token-row
      aggregate wins (measured 0.67 s vs 0.73 s row-local); map-side
      partial aggregation collapses each doc to one ~8-column row
      before the shuffle. explode_outer keeps zero-token docs (NULL
      token → counts of 0)."""
    lang_list = list(STOPWORDS if langs is None else langs)
    if len(lang_list) <= 2:
        # NULL-text parity with the explode_outer branch: there a NULL
        # array still emits one NULL-token row, so n_tokens/hits/
        # sum_token_len come out 0 (not NULL) — coalesce reproduces
        # that here (n_chars/n_punct are NULL in both branches).
        b = df.select(
            F.col(id_col),
            F.col(text_col),
            F.coalesce(tokens(text_col), F.array().cast("array<string>")).alias("_toks"),
        )
        cols = [
            F.col(id_col),
            F.length(text_col).cast("int").alias("n_chars"),
            (
                F.length(text_col)
                - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
            )
            .cast("int")
            .alias("n_punct"),
            F.size("_toks").cast("int").alias("n_tokens"),
            F.coalesce(
                F.length(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", "")),
                F.lit(0),
            )
            .cast("long")
            .alias("sum_token_len"),
        ]
        for lang in lang_list:
            lits = STOPWORDS[lang]
            cols.append(
                F.size(F.filter(F.col("_toks"), lambda tk: tk.isin(*lits)))
                .cast("long")
                .alias(f"hits_{lang}")
            )
        return b.select(*cols)
    toked = df.select(
        F.col(id_col),
        F.length(text_col).cast("int").alias("_nc"),
        (F.length(text_col) - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")))
        .cast("int")
        .alias("_np"),
        F.explode_outer(tokens(text_col)).alias("_tok"),
    )
    hit_aggs = [
        F.count(F.when(F.col("_tok").isin(*STOPWORDS[lang]), F.lit(1))).alias(f"hits_{lang}")
        for lang in lang_list
    ]
    return toked.groupBy(id_col).agg(
        F.first("_nc").alias("n_chars"),
        F.first("_np").alias("n_punct"),
        F.count("_tok").cast("int").alias("n_tokens"),
        F.coalesce(F.sum(F.length("_tok")), F.lit(0)).cast("long").alias("sum_token_len"),
        *hit_aggs,
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality features from one token_profile pass: char/token counts,
    mean token length, punctuation ratio, English-stopword ratio,
    composite score. Semantically identical to the per-row expression
    form (mean token length == len(concat(tokens))/n)."""
    p = token_profile(df, text_col, id_col, langs=("en",))
    n_chars = F.col("n_chars")
    n_toks = F.col("n_tokens")
    punct_ratio = F.when(n_chars > 0, F.col("n_punct") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, F.col("hits_en") / n_toks).otherwise(0.0)
    mean_tok_len = F.when(n_toks > 0, F.col("sum_token_len") / n_toks).otherwise(0.0)
    score = (
        F.least(n_toks / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    return p.select(
        id_col,
        n_chars.cast("int").alias("q_n_chars"),
        n_toks.cast("int").alias("q_n_tokens"),
        F.round(mean_tok_len, 6).alias("q_mean_token_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(stop_ratio, 6).alias("q_stopword_ratio"),
        F.round(score, 6).alias("q_score"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    min_stop_ratio: float = 0.02,
) -> DataFrame:
    """Gopher/C4-style rule filter over the token_profile features:
    token-count window, mean-token-length window, punctuation cap,
    stopword floor. Predicates compare the RAW (unrounded) feature
    doubles — both engines derive them from identical integer
    numerators/denominators, so the comparisons are exactly
    reproducible (same IEEE division, same operands). Returns
    (id, n_tokens) of surviving docs; one scan, one partial-agg
    shuffle, filter evaluated map-side after the agg."""
    p = token_profile(df, text_col, id_col, langs=("en",))
    n_toks = F.col("n_tokens")
    punct_ratio = F.when(F.col("n_chars") > 0, F.col("n_punct") / F.col("n_chars")).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, F.col("hits_en") / n_toks).otherwise(0.0)
    mean_tok_len = F.when(n_toks > 0, F.col("sum_token_len") / n_toks).otherwise(0.0)
    return p.filter(
        (n_toks >= min_tokens)
        & (n_toks <= max_tokens)
        & (mean_tok_len >= min_mean_tok_len)
        & (mean_tok_len <= max_mean_tok_len)
        & (punct_ratio <= max_punct_ratio)
        & (stop_ratio >= min_stop_ratio)
    ).select(id_col, n_toks.cast("int").alias("n_tokens"))


def lang_id_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language heuristic over a token_profile pass:
    argmax of per-language hit ratios, deterministic precedence on
    ties (STOPWORDS insertion order), 'und' when nothing hits."""
    p = token_profile(df, text_col, id_col)
    n = F.col("n_tokens")
    ratios = {
        lang: F.when(n > 0, F.col(f"hits_{lang}") / n).otherwise(0.0) for lang in STOPWORDS
    }
    best = F.greatest(*ratios.values())
    out = F.when(best <= 0.0, F.lit("und"))
    for lang in STOPWORDS:
        out = out.when(ratios[lang] == best, F.lit(lang))
    return p.select(id_col, out.otherwise(F.lit("und")).alias("lang_pred"))


def fingerprint_md5(col: Column | str) -> Column:
    """Normalization fingerprint: md5 of lowercased,
    whitespace-collapsed text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def md5_prefix60(col: Column | str) -> Column:
    """First 15 hex digits of md5 as a BIGINT (< 2^60): the
    cross-engine-replayable hash primitive — any ANSI engine can
    recompute it (DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT).
    The slow-but-replayable counterpart of xxhash64 for
    correctness-surface variants of the hash-family operators
    (replayable MinHash signatures, 60-bit SimHash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fingerprint_rolling(col: Column | str, prime: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over per-token 60-bit md5 prefixes
    (order-sensitive document fingerprint). Pure fold expression — no
    UDF. Token value = first 15 hex digits of md5 (< 2^60), so
    `acc*base + h` stays far inside long range (acc < prime ~ 2^30).
    md5 rather than crc32/xxhash64 so an independent engine can replay
    the exact fold (DuckDB: list_reduce + md5)."""
    toks = tokens(col)
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + h(t)) % prime,
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document: (doc_id, tok, tf, df, tfidf).

    tf = in-doc term count, idf = ln(N / df) with N = docs with ≥1
    token. Ranking uses the ROUNDED score (6 dp) with the token as the
    tie-break, so selection is stable across engines' libm ulps. Plan:
    explode → two hash aggs (partial-agg friendly) → equi-join tf×df on
    token → per-doc AGGREGATE top-k (array_sort of per-doc structs +
    slice): a hash agg over ≤|doc vocabulary| structs per group beats
    a row_number window, whose doc-partitioned SORT of the whole
    (doc, term) relation was the hotspot at ×100 (28 s → 16 s at 100k
    docs, identical output incl. tie-breaks). The token-level df table
    scales with vocabulary, not corpus, and is NOT broadcast — vocab
    is unbounded at corpus scale.
    """
    # no pre-explode filter: explode() drops empty arrays itself, and a
    # token_count filter would evaluate the tokenize REGEX a second
    # time (filter and explode live in different operators — codegen
    # CSE does not span them)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    # the tf >= 1 filter is a semantic no-op (counts are >= 1) acting
    # as a REUSE BARRIER: it references tf, so column pruning cannot
    # rewrite this branch into a bare (doc, tok) DISTINCT. Without it
    # the df branch plans a different partial agg below the same
    # (doc, tok) exchange, the exchanges stop being identical, AQE
    # stage reuse never fires, and the corpus tokenize+explode runs
    # TWICE (A/B on a ×100 lake: join leg 8-9 s → 4.2-4.6 s).
    dfreq = tf.filter(F.col("tf") >= 1).groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # N = docs with ≥1 token — a plain count over the doc scan; a
    # countDistinct over the (doc, term) relation would re-shuffle the
    # corpus-sized tf table to learn a number the scan already knows.
    # `tokens()` yields ≥1 token exactly when the trimmed text is
    # non-empty, so this branch counts on length(trim()) and never
    # pays a second corpus tokenize.
    n = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    )
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))  # 1-row scalar, always broadcast-safe
        .select(
            F.col(id_col),
            "tok",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    # struct sort order = (-tfidf asc, tok asc, ...) ≡ the window's
    # (tfidf desc, tok asc); tok is unique per doc, so deterministic.
    s = F.struct(
        (-F.col("tfidf")).alias("_neg"),
        F.col("tok"),
        F.col("tf"),
        F.col("df"),
        F.col("tfidf"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.slice(F.array_sort(F.collect_list(s)), 1, k).alias("_top"))
        .select(id_col, F.explode("_top").alias("_t"))
        .select(id_col, "_t.tok", "_t.tf", "_t.df", "_t.tfidf")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction — the standard pre-training scrub step
# (emails, IPv4s, phone-like digit runs). Patterns use only syntax
# with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# no lookaround, no backrefs, ASCII classes, greedy bounded repeats.
# Order matters and is fixed: IP first (the phone class contains '.'
# and digits, so an un-redacted IP would read as a phone), then email
# (its local part could contain digit runs), then phone.
# ---------------------------------------------------------------------------
PII_PATTERNS = (
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?[0-9][0-9 ().-]{6,}[0-9]", "[PHONE]"),
)


def pii_counts(col: Column | str) -> list[Column]:
    """One `n_{kind}` match-count column per PII pattern, counted on
    the RAW text (before any replacement) with the same masking
    cascade applied to earlier kinds, so counts match what redact_pii
    replaces. Pure regexp_count — codegen'd, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    masked = c
    for kind, pat, token in PII_PATTERNS:
        out.append(F.regexp_count(masked, F.lit(pat)).cast("int").alias(f"n_{kind}"))
        masked = F.regexp_replace(masked, pat, token)
    return out


def redact_pii(col: Column | str) -> Column:
    """Text with every PII match replaced by its `[KIND]` token,
    applying the cascade in PII_PATTERNS order."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


# ---------------------------------------------------------------------------
# Repetition features (Gopher-style): within-document repetition is
# the classic signal for boilerplate / spam / degenerate generations.
#   dup_unigram_frac = 1 − distinct_tokens / n_tokens
#   top_bigram_frac  = occurrences of the most frequent bigram / n_bigrams
# Shape: fully ROW-LOCAL — every statistic is a property of one
# document's own token array, so nothing shuffles:
#   n_tokens / n_distinct_tokens = size / size∘array_distinct of the
#   bound token attribute; n_bigrams = size of the bigram array; the
#   top-bigram count = the longest EQUAL-RUN in the sorted bigram
#   array (sorting groups equal bigrams adjacently under any total
#   order), an O(L log L) per-row aggregate. The previous shape paid
#   two corpus explodes, three hash-agg exchanges and an id join for
#   the same six per-doc numbers (guide §2.1: remove shuffles
#   outright when the value is row-local).
# ---------------------------------------------------------------------------
def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    # NULL-text parity with the old explode_outer shape (one NULL
    # token row → counts of 0): coalesce the NULL token array to [].
    # Both derived arrays are bound as attributes — multi-referenced
    # non-cheap aliases survive CollapseProject (SPARK-36718), so the
    # tokenize and the bigram build each run once per row.
    b = df.select(
        F.col(id_col),
        F.coalesce(tokens(text_col), F.array().cast("array<string>")).alias("_toks"),
    ).select(
        F.col(id_col),
        F.col("_toks"),
        F.sort_array(ngrams(F.col("_toks"), 2)).alias("_bgs"),
    )
    # longest run of equal adjacent elements in the sorted array ==
    # max per-bigram count. prev starts NULL; bigram strings are never
    # NULL (split yields no NULL token), so eqNullSafe is false on the
    # first element and the run counter starts at 1.
    run_t = "struct<prev:string,run:int,best:int>"
    top = F.aggregate(
        F.col("_bgs"),
        F.lit(None).cast(run_t),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                F.coalesce(acc["best"], F.lit(0)),
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: F.coalesce(acc["best"], F.lit(0)),
    )
    n_toks = F.col("n_tokens")
    n_bg = F.col("n_bigrams")
    return b.select(
        F.col(id_col),
        F.size("_toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("int").alias("n_distinct_tokens"),
        F.size("_bgs").cast("int").alias("n_bigrams"),
        top.cast("int").alias("top_bigram_count"),
    ).select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        "n_bigrams",
        F.round(
            F.when(n_toks > 0, 1.0 - F.col("n_distinct_tokens") / n_toks).otherwise(0.0),
            6,
        ).alias("dup_unigram_frac"),
        F.round(
            F.when(n_bg > 0, F.col("top_bigram_count") / n_bg).otherwise(0.0), 6
        ).alias("top_bigram_frac"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability — the cheap
    perplexity proxy behind LM-based corpus quality filtering (the
    CCNet-family recipe: score every document under a language model
    and drop the far tail; a corpus-MLE unigram model with add-`alpha`
    smoothing is its shuffle-friendly first rung).

    (doc_id, n_tokens, mean_logprob) for every doc with ≥1 token,
    mean_logprob = (1/n_d) · Σ_tok ln((cnt(tok)+α) / (N + α·V)),
    with cnt = corpus count, N = corpus token total, V = vocab size.

    Plan: one explode → (doc, tok) and (tok) hash aggs → equi-join on
    the token key (the count table scales with VOCABULARY, not corpus,
    and is NOT broadcast); the (N, V) scalar row is. Cross-engine
    determinism: each token's ln() is snapped to integer micros with
    the same floor(x·1e6 + 0.5) expression both engines evaluate, so
    the per-doc mean is an exact integer sum divided by an exact
    count — no float-summation order sensitivity.
    """
    # no pre-explode length filter: explode() drops empty token
    # arrays itself, and the filter would tokenize a second time
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    cnt = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    totals = cnt.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    lp = F.log((F.col("cnt") + alpha) / (F.col("n_total") + alpha * F.col("vocab")))
    lpm = F.floor(lp * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        tf.join(cnt, "tok")
        .crossJoin(F.broadcast(totals))  # 1-row scalar, always broadcast-safe
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * lpm) / F.sum("tf").cast("double") / F.lit(1e6), 6
            ).alias("mean_logprob"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a bag of query terms — the
    classic lexical-search baseline next to the tf-idf ranking.

    score(D,Q) = Σ_t idf(t)·tf·(k1+1) / (tf + k1·(1-b+b·|D|/avgdl)),
    idf(t) = ln((N-df+0.5)/(df+0.5)+1) (the standard non-negative
    variant). Plan: ONE corpus tokenize feeds the (doc,term) tf, the
    doc-length, and the term df relations; only (doc, query-term) rows
    survive into scoring (the isin filter cuts the join input to
    |Q|·df rows), the (N, avgdl) scalar broadcasts, and the top-k is
    TakeOrderedAndProject — no global sort. Cross-engine determinism:
    per-term scores snap to integer micros (same floor expression both
    engines) so the per-doc sum is exact integer math."""
    # no pre-explode length filter (explode drops empty arrays; the
    # filter would tokenize a second time); docs with 0 tokens are
    # equally absent from dl/stats either way
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # FOUR consumers need the (doc, tok, tf) relation (the isin-
    # filtered scoring rows, dl, df, and the N/avgdl scalar), and each
    # un-shared consumer re-runs the corpus tokenize+explode — measured
    # 167 s for this query on a ×100 lake before the checkpoint. Same
    # recipe as rrf_fusion_topk: materialize tf once, everything
    # derives from the cheap RDD (dl = Σ tf per doc == token count).
    tf = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
    spm = F.floor((idf * (F.col("tf") * (k1 + 1.0)) / denom) * F.lit(1e6) + F.lit(0.5)).cast("long")
    # tokens() lowercases the corpus — match query terms in the same
    # space or an uppercase query term silently scores zero
    terms = [t.lower() for t in query_terms]
    return (
        tf.filter(F.col("tok").isin(terms))
        .join(dfreq, "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))  # 1-row scalar
        .groupBy(id_col)
        .agg(F.round(F.sum(spm) / F.lit(1e6), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def hashing_tf(
    df: DataFrame,
    n_features: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing term-frequency vectors (the hashing trick /
    MLlib HashingTF, rebuilt on codegen'd expressions): each token
    lands in slot xxhash64(token) mod n_features, and the document's
    vector is the per-slot count. No vocabulary pass, no fitted state
    — the classic bounded-memory featurizer for 100 TB corpora.

    Plan: one tokenize+explode, one (doc, slot) hash agg (map-side
    combinable), then n_features conditional sums collapse the slots
    into a dense ARRAY<INT> — never a per-row interpreted lambda over
    the vocabulary. The slot hash is the first md5 byte mod n_features
    (the repo's engine-portable hash convention, sampling.py:10 — a
    production corpus would swap in xxhash64 for speed at the cost of
    cross-engine verifiability). The slot space is one byte, so
    `n_features` must divide 256 — a non-divisor width would bias slot
    frequencies (and widths over 256 could never be hit).

    Every input row gets an output vector: documents whose text
    tokenizes to nothing (empty/whitespace-only) come back as the
    all-zeros vector via a left join on `id_col`, so downstream
    feature matrices keep one row per document."""
    if n_features <= 0 or n_features > 256 or 256 % n_features:
        raise ValueError(
            f"n_features must be a divisor of 256 (got {n_features}): the md5-byte "
            "slot space is 256 values, so other widths bias or starve slots"
        )
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    nib = "(instr('0123456789abcdef', substring(md5(tok), {p}, 1)) - 1)"
    slot = F.expr(f"pmod({nib.format(p=1)} * 16 + {nib.format(p=2)}, {n_features})")
    slots = toks.groupBy(id_col, slot.alias("slot")).agg(F.count(F.lit(1)).alias("cnt"))
    dense = [
        F.coalesce(F.sum(F.when(F.col("slot") == i, F.col("cnt"))), F.lit(0))
        .cast("int")
        .alias(f"_s{i}")
        for i in range(n_features)
    ]
    vecs = (
        slots.groupBy(id_col)
        .agg(*dense)
        .select(F.col(id_col), F.array(*[f"_s{i}" for i in range(n_features)]).alias("tf"))
    )
    zeros = F.array(*[F.lit(0).cast("int") for _ in range(n_features)])
    return (
        df.select(id_col)
        .join(vecs, id_col, "left")
        .withColumn("tf", F.coalesce(F.col("tf"), zeros))
    )
