"""LLM training-data pipeline extras (round 2): benchmark
decontamination, context-window chunking, within-document repetition
quality, PII redaction, and language-mixture rebalancing.

These are the curation steps a 100 TB pretraining pipeline runs between
dedup and tokenization. All token math reuses the repo's established
parity tokenization (lowercase, split on non-letters) so Spark and the
DuckDB oracle see identical token arrays; all sampling is a pure
function of the document id (stable under retries/engines/partitioning).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import tokens
from ..io_utils import load, local_frame
from ..operators.dedup import md5_int, word_shingles
from ..partitioning import fan_out_scan as _fan_out_scan
from . import register
from .oracle_sql import TOKS


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing an 8-gram with
# the eval set
# ---------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
ngr AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - 6), i ->
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
           t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) AS ngs
  FROM toks
),
exploded AS (SELECT doc_id, unnest(ngs) AS ng FROM ngr),
ev AS (SELECT DISTINCT ng FROM exploded WHERE doc_id % 29 = 0),
tr AS (SELECT doc_id, ng FROM exploded WHERE doc_id % 29 <> 0),
shared AS (
  SELECT tr.doc_id, COUNT(DISTINCT tr.ng) AS n
  FROM tr JOIN ev ON tr.ng = ev.ng GROUP BY tr.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_shared_ngrams,
       COALESCE(s.n, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
WHERE d.doc_id % 29 <> 0
"""


@register("decontaminate_ngram_overlap", oracle=_DECON_ORACLE)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: flag every training document that
    shares at least one 8-gram with the held-out eval set (docs with
    id % 29 == 0 stand in for the benchmark) — the standard n-gram
    overlap filter used before pretraining so eval answers don't leak
    into the training corpus. Scale shape: the eval set's distinct
    8-grams are tiny and BROADCAST; the training side explodes its
    8-grams per shard and hash-joins locally — the corpus is never
    shuffled, and output is one row per training doc with the shared
    count (keep/drop decision plus an audit trail)."""
    d = load(spark, sf_dir, "documents")
    # NO scan fan-out here (r13, measured): interleaved A/B at sf0.1
    # put fan at 1.18 s vs off 1.07 s min — the broadcast build + probe
    # join dominate; the 8-gram explode is too light to pay an exchange
    docs = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    ngrams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), 8)).alias("ng")
    )
    ev = ngrams.filter(F.col("doc_id") % 29 == 0).select("ng").distinct()
    tr = ngrams.filter(F.col("doc_id") % 29 != 0)
    shared = (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(F.countDistinct("ng").alias("n"))
    )
    return (
        d.filter(F.col("doc_id") % 29 != 0)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_shared_ngrams"),
            (F.coalesce("n", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window chunking: fixed-size token windows with overlap
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12  # 4-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
starts AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1, {_CHUNK_STRIDE})) AS s
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id, s, list_slice(t, s, least(s + {_CHUNK_SIZE} - 1, len(t))) AS chunk
  FROM starts
)
SELECT doc_id,
       CAST((s - 1) / {_CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 8))::BIGINT AS chunk_hash
FROM chunks
"""


# formatted OUTSIDE the function, passed via register(doc=...): a bare
# """...""".format(...) first statement is an expression, not a
# docstring — __doc__ and the catalog doc end up empty (r10 ADVICE)
_CHUNK_DOC = """Context-window chunking: split each document's token stream into
    fixed {size}-token windows advancing by {stride} (a {ov}-token
    overlap so no boundary context is lost) — the step that turns
    variable-length documents into model-sized training sequences. Pure
    per-row array arithmetic (sequence + slice), so it's embarrassingly
    parallel: no shuffle, no UDF, and the chunk row count is
    ~n_tokens/stride per doc regardless of corpus size. chunk_hash gives
    downstream chunk-level dedup a ready-made key.""".format(
    size=_CHUNK_SIZE, stride=_CHUNK_STRIDE, ov=_CHUNK_SIZE - _CHUNK_STRIDE
)


@register("chunk_fixed_token_windows", oracle=_CHUNK_ORACLE, doc=_CHUNK_DOC)
def chunk_fixed_token_windows(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    starts = docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        "s",
        F.slice(F.col("toks"), F.col("s"), F.lit(_CHUNK_SIZE)).alias("chunk"),
    )
    return chunks.select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_STRIDE + 1).cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        md5_int(F.concat_ws(" ", F.col("chunk")), mod=None).alias("chunk_hash"),
    )


chunk_fixed_token_windows.__doc__ = _CHUNK_DOC


# ---------------------------------------------------------------------------
# Within-document repetition ratios (quality signal)
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t) - 1), i ->
           t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
  FROM toks
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       ROUND(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS uniq_token_ratio,
       CASE WHEN len(g3) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
            END AS dup_trigram_frac
FROM grams WHERE len(t) > 0
"""


@register("text_repetition_ratio", oracle=_REPEAT_ORACLE)
def text_repetition_ratio(spark, sf_dir):
    """Within-document repetition quality signals: unique-token ratio
    and duplicate-trigram fraction — the Gopher-style filters that drop
    boilerplate/spam documents whose content is mostly repeated phrases.
    Pure per-row array arithmetic (no shuffle, no UDF); NULL trigram
    fraction for docs too short to have trigrams, mirroring SQL
    semantics on both engines."""
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    # stage the trigram array as a column too: it is referenced three
    # times below and would otherwise be rebuilt per reference
    staged = docs.select("doc_id", "toks", word_shingles(F.col("toks"), 3).alias("g3"))
    return staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks"), 6
        ).alias("uniq_token_ratio"),
        F.when(
            F.size("g3") > 0,
            F.round(
                1.0 - F.size(F.array_distinct("g3")).cast("double") / F.size("g3"), 6
            ),
        ).alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction (emails/phones scrubbed before training)
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.com"
_PHONE_RE = "555-[0-9]+"

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact ' || source || '@example.com tel 555-' ||
         CAST(doc_id AS VARCHAR) AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       sha256(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_sha
FROM aug
"""


@register("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing: replace email addresses and phone numbers with
    typed placeholder tokens and count the redactions per document — the
    mandatory compliance pass before text reaches a training corpus.
    The synthetic corpus contains no PII, so a deterministic
    contact-line (source email + numeric phone) is appended first purely
    to give the scrubber real matches to find; the redaction machinery
    (JVM regexp_replace, global) is what's under test, verified by the
    sha256 of the redacted text. Stays entirely in whole-stage codegen —
    no shuffle, no Python."""
    d = load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("@example.com tel 555-"),
            F.col("doc_id").cast("string"),
        ).alias("raw"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.sha2(
            F.regexp_replace(
                F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
            ),
            256,
        ).alias("redacted_sha"),
    )


# ---------------------------------------------------------------------------
# Language-mixture rebalancing (deterministic downsample to parity)
# ---------------------------------------------------------------------------

_REBALANCE_ORACLE = """
WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
m AS (SELECT MIN(n_total) AS min_cnt FROM counts),
rates AS (
  SELECT lang, n_total, (min_cnt * 10000) // n_total AS rate_bp
  FROM counts, m
),
kept AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        < r.rate_bp
  GROUP BY d.lang
)
SELECT r.lang,
       CAST(r.n_total AS BIGINT) AS n_total,
       CAST(r.rate_bp AS BIGINT) AS rate_bp,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k ON r.lang = k.lang
"""


@register("datamix_rebalance_langs", oracle=_REBALANCE_ORACLE)
def datamix_rebalance_langs(spark, sf_dir):
    """Language-mixture rebalancing: downsample every language to the
    size of the smallest one (per-stratum keep-rates in integer basis
    points — exact integer math, so both engines compute the identical
    rate) using the hash-of-id filter, so membership is deterministic
    and new arrivals never evict old members. This is the data-mixing
    step that sets per-source/per-language proportions for a training
    run. Scale shape: one tiny aggregate (langs × counts) broadcast back
    onto the corpus scan; the corpus itself is filtered in place, never
    shuffled."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    m = counts.agg(F.min("n_total").alias("min_cnt"))
    rates = counts.crossJoin(F.broadcast(m)).withColumn(
        "rate_bp", F.expr("(min_cnt * 10000) DIV n_total")
    )
    kept = (
        d.join(F.broadcast(rates.select("lang", "rate_bp")), "lang")
        .filter(md5_int(F.col("doc_id").cast("string"), mod=10000) < F.col("rate_bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n_total").cast("long").alias("n_total"),
            F.col("rate_bp").cast("long").alias("rate_bp"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: OOV rate against the corpus top-K vocab
# ---------------------------------------------------------------------------

_VOCAB_K = 50

_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT {_VOCAB_K}
  )
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


@register("text_vocab_oov_rate", oracle=_VOCAB_ORACLE)
def text_vocab_oov_rate(spark, sf_dir):
    """Vocabulary-coverage curation metric: induce a top-K corpus vocab
    (count desc, token asc — the tie-break makes the boundary
    deterministic on both engines) and score every document's
    out-of-vocab token rate. High-OOV docs are the noise/encoding-junk
    candidates a tokenizer-aware filter drops. Scale shape: token
    explode shuffles once on the token for counts; the top-K is a
    TakeOrdered (per-partition heaps, |vocab| rows to the driver plan);
    the vocab side then BROADCASTS back onto the token stream — the
    corpus is never shuffled a second time."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicate n-gram fraction (Gopher / RefinedWeb signal)
# ---------------------------------------------------------------------------

_DUPFRAC_K = 5  # 5-word shingles

# 32-bit md5 prefix of each shingle, identical on both engines — the
# shuffle key is 8 bytes instead of a ~30-byte shingle string
_DUPFRAC_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(ng), 1, 8))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - {_DUPFRAC_K - 1}, 0) + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS ng
    FROM toks
  )
),
cnt AS (SELECT h, COUNT(*) AS n_docs FROM sh GROUP BY h)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       ROUND(SUM(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM sh JOIN cnt ON sh.h = cnt.h
GROUP BY sh.doc_id
"""


@register("dup_ngram_doc_fraction", oracle=_DUPFRAC_ORACLE)
def dup_ngram_doc_fraction(spark, sf_dir):
    """Cross-document duplicate n-gram fraction: for every document, the
    share of its distinct 5-gram shingles that also occur in at least
    one OTHER document — the Gopher/RefinedWeb quality signal that
    catches boilerplate and templated spam which exact- and line-level
    dedup both miss (no full line or full doc repeats, but most of the
    n-gram mass does). Complements text_repetition_ratio (WITHIN-doc
    repeats) with the ACROSS-doc counterpart.

    Scale shape: shingles are replaced by a 32-bit md5 prefix BEFORE the
    shuffle, so both shuffles (distinct + shingle-count) move 8-byte
    keys, not ~30-byte strings; the count table joins back on the same
    hash key and the per-doc rollup is a partial-aggregated groupBy.
    Output is one row per document with ≥1 shingle — an audit trail a
    threshold filter consumes directly. Hash collisions are identical on
    both engines (same md5 prefix), so parity is exact."""
    d = load(spark, sf_dir, "documents")
    # tokenize + shingle + md5 explode is scan-side: guarded fan-out so
    # a one-split layout doesn't run the whole corpus's hashing on one
    # core (r13, guide §2; the distinct's exchange is REUSED by both of
    # sh's consumers, so this adds no extra shuffle of the postings)
    toks = _fan_out_scan(d, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("t"), _DUPFRAC_K))
            ).alias("ng"),
        )
        .select(
            "doc_id",
            md5_int(F.col("ng"), mod=None).alias("h"),
        )
        .distinct()
    )
    cnt = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(cnt, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
            F.round(
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Epoch upsampling: repeat scarce sources up to a shared token budget
# (the complement of datamix_rebalance_langs' downsampling — together
# they are the two halves of pretraining data mixing)
# ---------------------------------------------------------------------------

_UPSAMPLE_ORACLE = """
WITH tok AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS t_s
  FROM documents GROUP BY source
),
b AS (SELECT MAX(t_s) AS max_t FROM tok),
rates AS (
  SELECT source, n_docs, t_s, (max_t * 10000) // t_s AS repeat_bp
  FROM tok, b
),
em AS (
  SELECT d.source,
         (r.repeat_bp // 10000)
           + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 10000 < r.repeat_bp % 10000
                  THEN 1 ELSE 0 END AS n_rep,
         d.n_chars
  FROM documents d JOIN rates r USING (source)
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT)    AS n_docs,
       CAST(r.t_s AS BIGINT)       AS n_tokens,
       CAST(r.repeat_bp AS BIGINT) AS repeat_bp,
       CAST(SUM(e.n_rep) AS BIGINT)             AS n_emitted_docs,
       CAST(SUM(e.n_rep * e.n_chars) AS BIGINT) AS n_emitted_tokens
FROM rates r JOIN em e ON e.source = r.source
GROUP BY 1, 2, 3, 4
"""


@register("datamix_epoch_upsample", oracle=_UPSAMPLE_ORACLE)
def datamix_epoch_upsample(spark, sf_dir):
    """Epoch-style upsampling mix: every source is repeated up to the
    LARGEST source's token mass — per-source repeat factors in integer
    basis points (exact in both engines), with the fractional epoch
    realized per document by the deterministic hash-of-id rule (a doc
    either gets the extra copy in every run or never — reproducible
    mixes, no RNG). This is the upsampling half of pretraining data
    mixing (scarce high-quality sources repeat for multiple epochs);
    `datamix_rebalance_langs` is the downsampling half.

    The Spark side MATERIALIZES the emission (explode over a repeat
    sequence — what a real mixing job writes out) and the summary it
    returns is aggregated FROM those emitted rows, so the oracle's
    analytic expectation verifies the actual emission, not just the
    rate arithmetic. Scale shape: rates are a tiny broadcast; the
    explode multiplies rows map-side with no shuffle; the only shuffle
    is the final per-source summary."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    tok = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("t_s"),
    )
    b = tok.agg(F.max("t_s").alias("max_t"))
    rates = tok.crossJoin(F.broadcast(b)).withColumn(
        "repeat_bp", F.expr("(max_t * 10000) DIV t_s")
    )
    emitted = (
        d.join(
            F.broadcast(rates.select("source", "repeat_bp")), "source"
        )
        .withColumn(
            "n_rep",
            F.expr("repeat_bp DIV 10000").cast("int")
            + (
                md5_int(F.col("doc_id").cast("string"), mod=10000)
                < F.col("repeat_bp") % 10000
            ).cast("int"),
        )
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("n_rep"))))
    )
    summary = emitted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_emitted_docs"),
        F.sum("n_chars").alias("n_emitted_tokens"),
    )
    return rates.join(summary, "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("t_s").cast("long").alias("n_tokens"),
        F.col("repeat_bp").cast("long").alias("repeat_bp"),
        F.col("n_emitted_docs").cast("long").alias("n_emitted_docs"),
        F.col("n_emitted_tokens").cast("long").alias("n_emitted_tokens"),
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting: one tokenizer-training iteration (round 9)
# ---------------------------------------------------------------------------

_BPE_ORACLE = f"""
WITH toks AS (SELECT {TOKS} AS t FROM documents),
words AS (SELECT unnest(t) AS w FROM toks),
vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair,
         cnt
  FROM vocab
)
SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
"""


@register("bpe_merge_pair_counts", oracle=_BPE_ORACLE)
def bpe_merge_pair_counts(spark, sf_dir):
    """One BPE tokenizer-training iteration, distributed: the top
    adjacent-symbol pair counts over the corpus (the pair with the
    highest count is the merge BPE performs next — Sennrich et al.
    2016, the public algorithm behind GPT/Llama tokenizers).

    Scale shape — the reason BPE training is feasible at 100 TB:
      1. the corpus collapses to a WORD-FREQUENCY vocabulary first
         (one hash shuffle on the word; partial aggregation makes the
         map side emit each distinct word once per partition);
      2. adjacent character pairs explode from VOCAB ENTRIES weighted
         by the word count — cost tracks |vocab| x avg word length,
         not corpus tokens (the classic corpus->dict reduction every
         real BPE trainer uses);
      3. pair counts aggregate on a symbol-pair key whose cardinality
         is bounded by |alphabet|^2 — the final shuffle is tiny.
    Everything is JVM-side codegen (split/explode/substring); a full
    trainer loops this query, folding the winning merge into the
    symbolization — each iteration is this same plan shape.

    Output: top-50 (pair, pair_count), count-desc then pair-asc —
    deterministic total order, integer counts (hash-exact).
    """
    d = load(spark, sf_dir, "documents")
    # NO scan fan-out here (r13, measured on the sibling bpe trainers):
    # the corpus collapses to the word-frequency vocab immediately, so
    # per-row explode work is too light to pay for an extra exchange.
    words = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # single-char words have no pairs; Spark's sequence(1, 0) DESCENDS
    # ([1, 0]) rather than returning empty, so filter them out before
    # the explode (DuckDB's range(1, 1) is naturally empty)
    vocab = vocab.filter(F.length("w") >= 2)
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Iterated BPE training: K merge rounds (r9 verdict item #3)
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 10


def _bpe_train_oracle(k: int) -> str:
    """Unrolled K-round replay of the identical training loop in DuckDB:
    each round picks the (count desc, pair asc) argmax adjacent pair
    and applies it with the same greedy left-to-right fold (list_reduce
    over a string accumulator; symbols are [a-z]+ so the space-joined
    encoding and the LIKE ends-with test are unambiguous). Every
    intermediate is MATERIALIZED — a data-dependent CTE referenced
    twice must not be inlined twice."""
    parts = [
        f"""WITH toks AS (SELECT {TOKS} AS t FROM documents),
words AS (SELECT unnest(t) AS w FROM toks),
vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
syms0 AS MATERIALIZED (
  SELECT cnt,
         list_transform(range(1, length(w) + 1), i -> substring(w, i, 1)) AS s
  FROM vocab
)"""
    ]
    for i in range(1, k + 1):
        prev = f"syms{i - 1}"
        parts.append(f""",
b{i} AS MATERIALIZED (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT unnest(list_transform(range(1, len(s)),
                                     j -> s[j] || ' ' || s[j+1])) AS pair,
               cnt
        FROM {prev} WHERE len(s) >= 2)
  GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1
),
syms{i} AS MATERIALIZED (
  -- DuckDB lambdas reject subqueries; the 1-row argmax CTE is
  -- cross-joined in so the lambda captures plain columns (ml, mr)
  SELECT cnt, string_split(list_reduce(s, (acc, x) ->
    CASE WHEN x = mr AND (acc = ml OR acc LIKE '% ' || ml)
         THEN acc || x ELSE acc || ' ' || x END), ' ') AS s
  FROM (SELECT p.cnt, p.s,
               split_part(b.pair, ' ', 1) AS ml,
               split_part(b.pair, ' ', 2) AS mr
        FROM {prev} p, b{i} b)
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_idx, pair, pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


@register("bpe_train_merges", oracle=_bpe_train_oracle(BPE_TRAIN_ROUNDS))
def bpe_train_merges(spark, sf_dir):
    """FULL BPE tokenizer training for K merge rounds (Sennrich et al.
    2016) — the iterative extension of bpe_merge_pair_counts: each round
    counts adjacent symbol pairs over the word-frequency vocabulary,
    picks the (count desc, pair asc) argmax, MERGES it everywhere with
    the greedy left-to-right fold real BPE uses (overlaps consume
    left-first: 'aaaa' + (a,a) → [aa, aa]), and re-counts. Output: the
    learned merge table (merge_idx, pair, pair_count) — the artifact a
    tokenizer ships.

    This is the reference-shaped "driver loop over Spark jobs" pattern
    (the audit engine / iterative-CC shape, SURVEY §3.3): per round ONE
    aggregation job whose argmax (a single row) is pulled to the
    driver, then folded back into the symbolization as a literal.

    Scale shape: the corpus collapses to the word-frequency vocab once
    (the corpus→dict reduction — pair work tracks |vocab| × word
    length, not corpus tokens); each round's symbolization is PERSISTED
    and the previous round's cache dropped, so round k never replays
    rounds 1..k-1's folds (without this the lineage recompute makes the
    loop O(K²)); the pair-count shuffle key stays alphabet²-bounded.
    The merge fold is a JVM aggregate over a string accumulator — no
    Python in any per-row path."""
    d = load(spark, sf_dir, "documents")
    # NO scan fan-out here (r13, measured): the corpus collapses to the
    # word-frequency vocab immediately, so per-row explode work is too
    # light to pay for an extra exchange — interleaved A/B at sf0.1:
    # fan 3.77 s vs off 3.72 s min (a wash; medians favored off). The
    # loop cost is the per-round job count, not scan parallelism.
    words = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # narrow the per-round working set (r14, guide §2): the symbolization
    # frame is DICTIONARY-sized (|vocab| rows — MBs even for a 100 TB
    # corpus), but it inherits the vocab shuffle's full partition count
    # (AQE's parallelismFirst keeps small shuffles at defaultParallelism),
    # so every round's argmax job scheduled 32 tiny tasks per stage.
    # coalesce (no shuffle) to ~P/8 — scales with the cluster, and the
    # per-round job is latency-bound, not compute-bound (interleaved A/B
    # minima at sf0.1: 3.34 s vs 4.35 s; values identical — pair counts
    # are partitioning-independent sums).
    _w = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 8)
    prev = vocab.select(
        "cnt",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias("s"),
    ).coalesce(_w).persist()
    merges: list[tuple[int, str, int]] = []
    # One ACTION per round, not two: round k's argmax collect is itself
    # the job that materializes round k-1's persisted symbolization (it
    # is the first action touching it), so the dedicated
    # nxt.count()-then-unpersist step is redundant — instead the
    # previous frame is kept cached ONE extra round (so the fold reads
    # a cache, never replays lineage) and unpersisted right after the
    # argmax that materialized its successor. Halves the per-round job
    # count; the loop stays O(K).
    stale = None
    try:
        for k in range(1, BPE_TRAIN_ROUNDS + 1):
            pairs = prev.filter(F.size("s") >= 2).select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1), "
                        "i -> concat_ws(' ', element_at(s, i), element_at(s, i + 1)))"
                    )
                ).alias("pair"),
                "cnt",
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            # prev is now materialized in its own cache; its parent's
            # cache is no longer needed by anything
            if stale is not None:
                stale.unpersist(blocking=False)
                stale = None
            if not best:  # corpus fully merged (unreachable on real data)
                break
            pair, n = best[0]["pair"], int(best[0]["pair_count"])
            merges.append((k, pair, n))
            if k == BPE_TRAIN_ROUNDS:
                break  # the K-th fold's output is never read — skip it
            a, b = pair.split(" ")
            folded = F.aggregate(
                F.slice(F.col("s"), 2, F.size("s")),
                F.element_at(F.col("s"), 1),
                lambda acc, x: F.when(
                    (x == F.lit(b))
                    & ((acc == F.lit(a)) | F.endswith(acc, F.lit(" " + a))),
                    F.concat(acc, x),
                ).otherwise(F.concat(acc, F.lit(" "), x)),
            )
            nxt = (
                prev.select("cnt", F.split(folded, " ").alias("s"))
                .coalesce(_w)
                .persist()
            )
            stale, prev = prev, nxt
    finally:
        if stale is not None:
            stale.unpersist(blocking=False)
        prev.unpersist(blocking=False)
    return local_frame(
        spark, merges, "merge_idx INT, pair STRING, pair_count LONG"
    )


# ---------------------------------------------------------------------------
# Exact duplicated-SPAN removal (round 10 — the surgical counterpart of
# document-level dedup: Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better", EXACTSUBSTR)
# ---------------------------------------------------------------------------

SPAN_K = 5  # span order: a K-token window repeated across docs is cut


_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS s,
         ('0x' || substr(md5(array_to_string(t[u.i:u.i + {SPAN_K - 1}], ' ')),
                         1, 15))::BIGINT AS h
  FROM toks, UNNEST(range(1, len(t) - {SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {SPAN_K}
),
dup AS (
  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h)
  WHERE nd >= 2
),
covg AS (
  SELECT DISTINCT g.doc_id, CAST(r.p AS BIGINT) AS p
  FROM g JOIN dup USING (h), UNNEST(range(g.s, g.s + {SPAN_K})) AS r(p)
),
cov AS (SELECT doc_id, list(p) AS ps FROM covg GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(c.ps), 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(len(c.ps), 0) AS DOUBLE) / len(t.t) AS removed_frac,
       -- array_to_string([]) is NULL in DuckDB (Spark's concat_ws gives
       -- ''), so a fully-removed doc needs the COALESCE to fingerprint
       -- the empty retained text identically on both engines
       md5(COALESCE(array_to_string(
         list_transform(
           list_filter(range(1, len(t.t) + 1),
                       i -> NOT list_contains(COALESCE(c.ps, []), i)),
           i -> t.t[i]), ' '), '')) AS retained_fp
FROM toks t LEFT JOIN cov c USING (doc_id)
WHERE len(t.t) >= 1
"""


def _span_occurrences(toks):
    """(doc_id, s, h) for every SPAN_K-token window: 1-based start and
    60-bit md5 prefix of the space-joined gram. Factored out so plan
    tests can inspect the LAZY pipeline (the public query returns a
    localCheckpoint, which collapses explain to Scan ExistingRDD)."""
    g = toks.filter(F.size("t") >= SPAN_K).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {SPAN_K - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {SPAN_K})))"
            )
        ).alias("p0", "ng"),
    )
    return g.select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("s"),
        md5_int(F.col("ng"), mod=None, hex_digits=15).alias("h"),
    )


def _span_removal_lazy(spark, sf_dir, occ=None):
    """The full span-removal plan, UN-persisted and UN-checkpointed —
    the query wraps this with persist(occ) + localCheckpoint; plan
    tests read it directly."""
    d = load(spark, sf_dir, "documents")
    # the doc-side branch re-tokenizes and reassembles the retained
    # text (md5 over the filtered token sequence) scan-side — fan out
    # so a one-split layout doesn't serialize it (r13, guide §2)
    toks = _fan_out_scan(d, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    if occ is None:
        occ = _span_occurrences(toks)
    dup = (
        occ.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    # shuffle duplicated span STARTS per doc; expand to covered
    # positions post-shuffle in one array expression
    cov = (
        occ.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(flatten(transform(ss, "
                f"s -> sequence(s, s + {SPAN_K - 1}))))"
            ).alias("ps"),
        )
    )
    joined = toks.join(cov, "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce(
            F.col("ps"), F.expr("cast(array() as array<bigint>)")
        ).alias("ps"),
    )
    retained = F.expr(
        "transform(filter(sequence(1, size(t)), "
        "i -> NOT array_contains(ps, cast(i as bigint))), "
        "i -> element_at(t, i))"
    )
    return joined.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size("ps").cast("long").alias("n_removed"),
        (F.size("ps").cast("double") / F.size("t")).alias("removed_frac"),
        F.md5(F.concat_ws(" ", retained)).alias("retained_fp"),
    )


@register("dedup_span_removal", oracle=_SPAN_ORACLE)
def dedup_span_removal(spark, sf_dir):
    """Exact duplicated-span REMOVAL (Lee et al. 2022's EXACTSUBSTR,
    k-gram-hash-shaped): any {SPAN_K}-token window whose exact text
    occurs in >= 2 distinct documents is cut from every document that
    contains it; overlapping duplicated windows merge into one removed
    span. Output per document: token count, removed-token count and
    fraction, and the md5 fingerprint of the RETAINED token sequence
    (the cleaned text, hash-compared instead of shipped).

    This is the surgical counterpart of the catalog's document-level
    dedups (dedup_exact_content drops whole docs;
    dup_ngram_doc_fraction only MEASURES cross-doc n-gram sharing) —
    boilerplate headers/footers are excised while the unique remainder
    of each document survives, which is what the published pipeline
    does to news/web corpora.

    Scale shape (suffix arrays do not distribute; k-gram hashing does):
      1. spans are hashed to 60-bit md5 prefixes BEFORE any shuffle —
         both shuffles (dup-gram min/max, coverage groupBy) move 8-byte
         keys;
      2. the exploded occurrence table is PERSISTED across its two
         consumers (dup-gram detection and the coverage join) — the
         tokenize+hash of the whole corpus is paid once, not three
         times (measured 3×44 s of the original 262 s at sf10);
      3. "occurs in >= 2 distinct docs" is min(doc_id) != max(doc_id) —
         one fully map-side-combinable aggregation, no COUNT(DISTINCT)
         expand;
      4. coverage shuffles span STARTS (one row per duplicated
         occurrence) and expands start -> K covered positions AFTER the
         groupBy as a per-row array expression — the K× blow-up never
         crosses the wire;
      5. retained-text reassembly is pure JVM array algebra
         (sequence/filter/element_at) on each doc's own row — no
         per-row Python, no window, no driver materialization.
    Hash collisions (~2^-60 per pair) are identical on both engines, so
    parity is exact."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 1
    )
    # fan out BEFORE the persist: the tokenize + posexplode + md5 of
    # every span runs in the scan stage, and the persisted occurrence
    # table would otherwise pin the one-split layout's single partition
    # for both downstream consumers (r13, guide §2; no-op on a
    # production layout). The doc-side reassembly join in
    # _span_removal_lazy fans out the same way.
    toks = _fan_out_scan(toks, "doc_id")
    occ = _span_occurrences(toks).persist()
    try:
        out = _span_removal_lazy(spark, sf_dir, occ=occ)
        # materialize through the persisted occurrence table before the
        # finally releases it (the returned frame must not silently
        # re-derive the 25M-gram explode uncached)
        return out.localCheckpoint()
    finally:
        occ.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# BPE corpus ENCODING (round 10 — closes the tokenizer loop: train K
# merges, then apply the learned tokenizer to every document)
# ---------------------------------------------------------------------------

BPE_ENCODE_ROUNDS = 5


def _bpe_encode_oracle(k: int) -> str:
    """Unrolled replay of training (identical argmax + greedy fold,
    carrying the word key through every round) followed by the encode
    join: per document, words joined to their final symbolization and
    the BPE token count summed. Same MATERIALIZED discipline as
    _bpe_train_oracle."""
    parts = [
        f"""WITH dtoks AS (SELECT doc_id, {TOKS} AS t FROM documents),
words AS (SELECT unnest(t) AS w FROM dtoks),
vocab AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
syms0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, length(w) + 1), i -> substring(w, i, 1)) AS s
  FROM vocab
)"""
    ]
    for i in range(1, k + 1):
        prev = f"syms{i - 1}"
        parts.append(f""",
b{i} AS MATERIALIZED (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT unnest(list_transform(range(1, len(s)),
                                     j -> s[j] || ' ' || s[j+1])) AS pair,
               cnt
        FROM {prev} WHERE len(s) >= 2)
  GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1
),
syms{i} AS MATERIALIZED (
  SELECT w, cnt, string_split(list_reduce(s, (acc, x) ->
    CASE WHEN x = mr AND (acc = ml OR acc LIKE '% ' || ml)
         THEN acc || x ELSE acc || ' ' || x END), ' ') AS s
  FROM (SELECT p.w, p.cnt, p.s,
               split_part(b.pair, ' ', 1) AS ml,
               split_part(b.pair, ' ', 2) AS mr
        FROM {prev} p, b{i} b)
)""")
    parts.append(f""",
perdoc AS (SELECT doc_id, unnest(t) AS w FROM dtoks)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(e.s)) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(len(e.s)) AS DOUBLE) / COUNT(*) AS bpe_per_word
FROM perdoc p JOIN syms{k} e USING (w)
GROUP BY p.doc_id""")
    return "".join(parts)


@register("bpe_encode_corpus", oracle=_bpe_encode_oracle(BPE_ENCODE_ROUNDS))
def bpe_encode_corpus(spark, sf_dir):
    """Apply a just-trained BPE tokenizer to the corpus: train
    BPE_ENCODE_ROUNDS merges exactly as `bpe_train_merges` does (same
    argmax rule, same greedy left-to-right fold), then ENCODE every
    document — each word replaced by its merged symbol sequence — and
    report per-document word count, BPE token count, and tokens/word.
    Together with `bpe_train_merges` this is the full tokenizer
    lifecycle a pretraining pipeline runs: train on the corpus, encode
    the corpus.

    Scale shape: training cost tracks |vocab| (corpus collapses to the
    word-frequency dictionary once — the classic corpus->dict
    reduction); the ENCODE is one equi-join of the exploded corpus
    against the |vocab|-row symbol table (AQE broadcasts it when it
    fits; at open-web vocab sizes a shuffle hash join on the word key
    is what Catalyst picks and exactly right) followed by one partial-
    aggregated groupBy(doc_id). Per-round persist + unpersist keeps the
    K-round loop O(K) as in bpe_train_merges; no Python in any per-row
    path."""
    d = load(spark, sf_dir, "documents")
    # NO scan fan-out here (r13, measured): interleaved A/B at sf0.1
    # put fan at 2.64 s vs off 2.33 s min — the encode join + per-doc
    # rollup dominate and the extra exchange costs more than the
    # parallel explode saves (same verdict as bpe_train_merges).
    wtok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    vocab = wtok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    prev = vocab.select(
        "w",
        "cnt",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias("s"),
    ).persist()
    # One action per round (the bpe_train_merges discipline): round k's
    # argmax collect materializes round k-1's persisted symbolization,
    # so the parent cache is dropped one round late instead of paying a
    # dedicated count() job. The final round's fold IS read here (by
    # the encode join), so its materialization happens inside the
    # localCheckpoint below, still through a cache.
    stale = None
    try:
        for _ in range(BPE_ENCODE_ROUNDS):
            pairs = prev.filter(F.size("s") >= 2).select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1), "
                        "i -> concat_ws(' ', element_at(s, i), element_at(s, i + 1)))"
                    )
                ).alias("pair"),
                "cnt",
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            if stale is not None:
                stale.unpersist(blocking=False)
                stale = None
            if not best:
                break
            a, b = best[0]["pair"].split(" ")
            folded = F.aggregate(
                F.slice(F.col("s"), 2, F.size("s")),
                F.element_at(F.col("s"), 1),
                lambda acc, x: F.when(
                    (x == F.lit(b))
                    & ((acc == F.lit(a)) | F.endswith(acc, F.lit(" " + a))),
                    F.concat(acc, x),
                ).otherwise(F.concat(acc, F.lit(" "), x)),
            )
            nxt = prev.select("w", "cnt", F.split(folded, " ").alias("s")).persist()
            stale, prev = prev, nxt
        encoded = prev.select("w", F.size("s").cast("long").alias("n_sym"))
        out = (
            wtok.join(encoded, "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("n_sym").alias("n_bpe_tokens"),
                (F.sum("n_sym").cast("double") / F.count(F.lit(1))).alias(
                    "bpe_per_word"
                ),
            )
        )
        # materialize THROUGH the cached symbol chain before releasing it
        # (the finally below unpersists; an un-executed lazy plan would
        # otherwise replay the whole K-round fold chain uncached)
        return out.localCheckpoint()
    finally:
        if stale is not None:
            stale.unpersist(blocking=False)
        prev.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# DSIR-style importance selection (round 10 — Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling": hashed
# n-gram features, target/source likelihood-ratio weights, top-k keep)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256   # hashed unigram feature space
DSIR_KEEP_FRAC = 10  # keep top 1/10 of source docs


_DSIR_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bk
  FROM toks
),
src AS (SELECT * FROM b WHERE doc_id % 29 <> 0),
tgt AS (SELECT * FROM b WHERE doc_id % 29 = 0),
sc AS (SELECT bk, COUNT(*) AS cs FROM src GROUP BY bk),
tc AS (SELECT bk, COUNT(*) AS ct FROM tgt GROUP BY bk),
tot AS (
  SELECT (SELECT COUNT(*) FROM src) AS ts, (SELECT COUNT(*) FROM tgt) AS tt
),
model AS (
  SELECT sc.bk,
         CAST(ROUND(ROUND(ln(
           (CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / (tt + {DSIR_BUCKETS})) /
           (CAST(sc.cs + 1 AS DOUBLE) / (ts + {DSIR_BUCKETS}))
         ), 6) * 1e6, 0) AS BIGINT) AS lr_micro
  FROM sc LEFT JOIN tc USING (bk), tot
),
scored AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(m.lr_micro) AS BIGINT) AS score_micro
  FROM src s JOIN model m USING (bk)
  GROUP BY s.doc_id
),
n AS (SELECT COUNT(*) AS nd FROM scored)
SELECT doc_id, n_tokens, score_micro
FROM scored, n
QUALIFY ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
        <= nd // {DSIR_KEEP_FRAC}
"""


def _dsir_lazy(spark, sf_dir, k: int, b=None):
    """The full DSIR plan, UN-persisted and UN-checkpointed, with the
    keep count ``k`` as a literal — the query wraps this with the
    persisted token-bucket frame and a localCheckpoint; plan tests read
    it directly (the public query's returned checkpoint collapses
    explain to Scan ExistingRDD)."""
    if b is None:
        d = load(spark, sf_dir, "documents")
        toks = d.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        b = toks.select(
            "doc_id", md5_int(F.col("tok"), DSIR_BUCKETS).alias("bk")
        )
    src = b.filter(F.col("doc_id") % 29 != 0)
    tgt = b.filter(F.col("doc_id") % 29 == 0)
    sc = src.groupBy("bk").agg(F.count(F.lit(1)).alias("cs"))
    tc = tgt.groupBy("bk").agg(F.count(F.lit(1)).alias("ct"))
    tot = src.agg(F.count(F.lit(1)).alias("ts")).crossJoin(
        tgt.agg(F.count(F.lit(1)).alias("tt"))
    )
    model = (
        sc.join(tc, "bk", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bk",
            F.round(
                F.round(
                    F.log(
                        ((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                         / (F.col("tt") + DSIR_BUCKETS))
                        / ((F.col("cs") + 1).cast("double")
                           / (F.col("ts") + DSIR_BUCKETS))
                    ),
                    6,
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    scored = (
        src.join(F.broadcast(model), "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").alias("score_micro"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(k)


@register("dsir_importance_select", oracle=_DSIR_ORACLE)
def dsir_importance_select(spark, sf_dir):
    """DSIR-style importance selection (Xie et al. 2023): score every
    SOURCE document (doc_id % 29 != 0) by the log likelihood ratio of a
    hashed-unigram model of the TARGET set (doc_id % 29 == 0 — the
    same held-out convention decontaminate_ngram_overlap and the
    curation funnel use) over a model of the source itself, add-one
    smoothed over {DSIR_BUCKETS} md5 buckets, and keep the top
    1/{DSIR_KEEP_FRAC} by score. This is the published
    pick-data-that-looks-like-the-target selection step, with the
    external tokenizer/feature artifacts replaced by the repo's parity
    tokenization.

    Cross-engine determinism: per-BUCKET log-ratios are round(6)-ed and
    carried as exact BIGINT micro-units (the lm_unigram_doc_score
    discipline) so each doc's score is an order-independent integer
    sum; selection ties break on doc_id.

    Scale shape: bucket counts are two partial-aggregated groupBys on a
    {DSIR_BUCKETS}-value key; the {DSIR_BUCKETS}-row model is broadcast
    onto the token stream (never shuffles the corpus); the final top-k
    is TakeOrderedAndProject at gate SFs. The token-bucket stream is
    PERSISTED across its consumers — without it the plan tokenizes the
    corpus SIX times (source/target bucket counts, the two totals,
    scoring, and the k count; the six-scan plan measured 91 s at
    sf10). At 100 TB, where k = n/10 no longer fits one driver, the
    same integer scores feed the w1_dense_ids machinery instead:
    repartitionByRange(score_micro, doc_id) + per-partition counts
    gives the exact global rank cutoff with no global sort — semantics
    identical, plan swap only."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    b = toks.select(
        "doc_id", md5_int(F.col("tok"), DSIR_BUCKETS).alias("bk")
    ).persist()
    try:
        src = b.filter(F.col("doc_id") % 29 != 0)
        # sanctioned scalar pull (the watermark pattern): k must be a
        # literal for TakeOrdered. This count is ALSO the action that
        # materializes the shared token-bucket cache; "source docs with
        # >= 1 token" == distinct doc_id in the source token stream.
        n_docs = src.select("doc_id").distinct().count()
        out = _dsir_lazy(spark, sf_dir, n_docs // DSIR_KEEP_FRAC, b=b)
        # materialize through the cache before the finally releases it
        return out.localCheckpoint()
    finally:
        b.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# Quality RULE STACK (round 10 — the Gopher/RefinedWeb-style composite
# gate: every heuristic evaluated in one pass, keep flag + reason mask)
# ---------------------------------------------------------------------------

_RULES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
),
sig AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         len(list_filter(toks, x -> x IN
           ('a','an','the','is','are','was','were','to','of','and','in',
            'on','for','with'))) AS n_stop,
         len(list_distinct(toks)) AS n_uniq,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         CASE WHEN len(toks) >= 3 THEN
           len(list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
         END AS n_uniq_tri,
         CASE WHEN len(toks) >= 3 THEN len(toks) - 2 END AS n_tri
  FROM t
),
flags AS (
  SELECT doc_id, n_tok,
         (n_tok >= 10 AND n_tok <= 1000) AS ok_len,
         (n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok < 0.5) AS ok_stop,
         (n_tok > 0 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.3) AS ok_uniq,
         (n_tri IS NULL
          OR 1.0 - CAST(n_uniq_tri AS DOUBLE) / n_tri <= 0.5) AS ok_tri,
         (n_tok > 0 AND CAST(sum_len AS DOUBLE) / n_tok >= 2.0
                    AND CAST(sum_len AS DOUBLE) / n_tok <= 12.0) AS ok_wlen
  FROM sig
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       ok_len, ok_stop, ok_uniq, ok_tri, ok_wlen,
       (ok_len AND ok_stop AND ok_uniq AND ok_tri AND ok_wlen) AS keep,
       CAST((CASE WHEN ok_len  THEN 0 ELSE 1 END)
          + (CASE WHEN ok_stop THEN 0 ELSE 2 END)
          + (CASE WHEN ok_uniq THEN 0 ELSE 4 END)
          + (CASE WHEN ok_tri  THEN 0 ELSE 8 END)
          + (CASE WHEN ok_wlen THEN 0 ELSE 16 END) AS BIGINT) AS fail_mask
FROM flags
"""


@register("quality_rule_stack", oracle=_RULES_ORACLE)
def quality_rule_stack(spark, sf_dir):
    """The composite quality GATE a production curation pipeline runs
    (Gopher rules / RefinedWeb / C4 style): five heuristics evaluated
    in ONE pass over the corpus — length window, stopword ratio,
    unique-token ratio, duplicate-trigram fraction, mean word length —
    with a combined keep flag and a per-rule failure BITMASK (the audit
    column that tells you WHICH rule killed a doc, what the published
    pipelines log for ablation). Complements the single-signal queries
    (text_quality_score, text_repetition_ratio) by composing the full
    rule stack the way the funnel's quality stage would consume it.

    Determinism: every ratio is an IEEE division of exact integers —
    identical on both engines, no rounding anywhere. Scale shape: one
    codegen'd projection over the scan, ZERO shuffles (explain shows a
    single WholeStageCodegen span); the stopword membership list is a
    literal, the trigram distinct-count is per-row array algebra."""
    d = load(spark, sf_dir, "documents")
    stop_lits = (
        "'a','an','the','is','are','was','were','to','of','and','in',"
        "'on','for','with'"
    )
    sig = d.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.size(
            F.expr(f"filter(toks, x -> x IN ({stop_lits}))")
        ).alias("n_stop"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.expr(
            "aggregate(toks, 0L, (acc, x) -> acc + length(x))"
        ).alias("sum_len"),
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN "
            "size(array_distinct(transform(sequence(1, size(toks) - 2), "
            "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
            "element_at(toks, i + 2))))) END"
        ).alias("n_uniq_tri"),
        F.expr("CASE WHEN size(toks) >= 3 THEN size(toks) - 2 END").alias("n_tri"),
    )
    nt = F.col("n_tok").cast("double")
    ok_len = (F.col("n_tok") >= 10) & (F.col("n_tok") <= 1000)
    ok_stop = (F.col("n_tok") > 0) & (F.col("n_stop").cast("double") / nt < 0.5)
    ok_uniq = (F.col("n_tok") > 0) & (F.col("n_uniq").cast("double") / nt >= 0.3)
    ok_tri = F.col("n_tri").isNull() | (
        F.lit(1.0) - F.col("n_uniq_tri").cast("double") / F.col("n_tri") <= 0.5
    )
    wlen = F.col("sum_len").cast("double") / nt
    ok_wlen = (F.col("n_tok") > 0) & (wlen >= 2.0) & (wlen <= 12.0)
    flags = sig.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        ok_len.alias("ok_len"),
        ok_stop.alias("ok_stop"),
        ok_uniq.alias("ok_uniq"),
        ok_tri.alias("ok_tri"),
        ok_wlen.alias("ok_wlen"),
    )
    return flags.select(
        "doc_id",
        "n_tok",
        "ok_len",
        "ok_stop",
        "ok_uniq",
        "ok_tri",
        "ok_wlen",
        (
            F.col("ok_len")
            & F.col("ok_stop")
            & F.col("ok_uniq")
            & F.col("ok_tri")
            & F.col("ok_wlen")
        ).alias("keep"),
        (
            F.when(F.col("ok_len"), 0).otherwise(1)
            + F.when(F.col("ok_stop"), 0).otherwise(2)
            + F.when(F.col("ok_uniq"), 0).otherwise(4)
            + F.when(F.col("ok_tri"), 0).otherwise(8)
            + F.when(F.col("ok_wlen"), 0).otherwise(16)
        )
        .cast("long")
        .alias("fail_mask"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (round 10 — Schleimer/Wilkerson/Aiken 2003,
# the MOSS local document fingerprinting algorithm)
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-gram order
WINNOW_W = 4  # winnowing window (guarantee: matches of >= w+k-1 tokens hit)


_WINNOW_ORACLE = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, len(t) - {WINNOW_K} + 2), i ->
           ('0x' || substr(md5(array_to_string(t[i:i + {WINNOW_K} - 1], ' ')),
                           1, 15))::BIGINT) AS gh
  FROM toks WHERE len(t) >= {WINNOW_K}
),
fp AS (
  SELECT doc_id,
         len(gh) AS n_grams,
         list_distinct(list_transform(range(1, len(gh) - {WINNOW_W} + 2), i ->
           list_aggregate(gh[i:i + {WINNOW_W} - 1], 'min'))) AS fps
  FROM h WHERE len(gh) >= {WINNOW_W}
),
posting AS (SELECT doc_id, unnest(fps) AS f FROM fp),
dup AS (
  SELECT f FROM (SELECT f, MIN(doc_id) AS lo, MAX(doc_id) AS hi
                 FROM posting GROUP BY f)
  WHERE lo <> hi
),
shared AS (
  SELECT p.doc_id, COUNT(*) AS n_shared
  FROM posting p JOIN dup USING (f) GROUP BY p.doc_id
)
SELECT fp.doc_id,
       CAST(fp.n_grams AS BIGINT) AS n_grams,
       CAST(len(fp.fps) AS BIGINT) AS n_fps,
       CAST(len(fp.fps) AS DOUBLE) / (fp.n_grams - {WINNOW_W} + 1)
         AS fp_density,
       CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared_fps,
       CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / len(fp.fps) AS shared_frac
FROM fp LEFT JOIN shared s USING (doc_id)
"""


# formatted OUTSIDE the function, passed via register(doc=...) — the
# bare """...""".format(...) first-statement form voids __doc__ AND the
# catalog doc (r10 ADVICE)
_WINNOW_DOC = """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every {WINNOW_K}-gram, slide a
    {WINNOW_W}-hash window, keep each window's MINIMUM hash; the
    distinct selected hashes are the document's fingerprint set. Then
    count, per document, its fingerprints that also occur in another
    document — the winnowed version of dup_ngram_doc_fraction's
    cross-doc overlap signal.

    Why winnowing at 100 TB: the posting list shrinks to fingerprint
    density ~2/(w+1) of the full k-gram explode — ~{DENS}× fewer rows
    through the shuffle here — while the algorithm GUARANTEES any
    shared run of >= w+k-1 tokens still produces at least one common
    fingerprint (the published detection bound; no false negatives for
    long matches, unlike uniform sampling). Selection is pure per-row
    array algebra (transform + slice + array_min) inside codegen; the
    only shuffles move the winnowed 8-byte fingerprint postings
    (min/max dup test — no COUNT(DISTINCT) expand).

    Determinism: plain min over 60-bit md5 prefixes ties only on
    identical grams, so both engines select identical fingerprint
    sets; all ratios are IEEE divisions of exact integers.""".format(
    WINNOW_K=WINNOW_K, WINNOW_W=WINNOW_W,
    DENS=round((WINNOW_W + 1) / 2, 1),
)


@register("winnow_fingerprint_overlap", oracle=_WINNOW_ORACLE, doc=_WINNOW_DOC)
def winnow_fingerprint_overlap(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # the md5-per-gram + window-min work runs in the SCAN projection,
    # so its parallelism would otherwise equal the file-split count —
    # one ~35 MB parquet file at sf1 = ONE core for the whole corpus
    # (measured 225 s; 32-way: ~20 s). r13: the keyless round-robin
    # repartition became the guarded HASH fan-out — keyless repartition
    # pays a local sort of its input for retry determinism
    # (SPARK-23207), hash on doc_id doesn't, and the guard makes it a
    # no-op on a production layout whose scan already has splits.
    toks = (
        _fan_out_scan(d, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= WINNOW_K)
    )
    # gh (the gram-hash array) MUST be re-bound to a lambda variable
    # (the word_shingles 1-element-array trick) before the window
    # transform references it: CollapseProject otherwise inlines the
    # whole md5-transform expression INSIDE the per-window lambda, so
    # every window re-hashes the entire document -> O(n^2) md5 calls
    # per row (observed: 80 s at sf0.001, 20+ min single-core at sf1;
    # linear form: sub-second / 6 s)
    stage = F.expr(
        f"""element_at(transform(array(
          transform(sequence(1, size(t) - {WINNOW_K - 1}), i ->
            cast(conv(substring(md5(concat_ws(' ', slice(t, i, {WINNOW_K}))),
                      1, 15), 16, 10) as bigint))),
        gh -> struct(
          size(gh) AS n_grams,
          CASE WHEN size(gh) >= {WINNOW_W} THEN
            array_distinct(transform(sequence(1, size(gh) - {WINNOW_W - 1}),
              i -> array_min(slice(gh, i, {WINNOW_W}))))
          ELSE cast(array() as array<bigint>) END AS fps)), 1)"""
    )
    # the winnowed fingerprint table feeds THREE consumers (posting
    # explode for the dup test, the posting probe side, and the final
    # per-doc stats) — persist it so the hash+window stage runs once,
    # not once per branch (the span-removal discipline)
    fp = (
        toks.select("doc_id", stage.alias("st"))
        .filter(F.col("st.n_grams") >= WINNOW_W)
        .select(
            "doc_id",
            F.col("st.n_grams").alias("n_grams"),
            F.col("st.fps").alias("fps"),
        )
        .persist()
    )
    try:
        posting = fp.select("doc_id", F.explode("fps").alias("f"))
        dup = (
            posting.groupBy("f")
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .select("f")
        )
        shared = (
            posting.join(dup, "f")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        out = fp.join(shared, "doc_id", "left").select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.size("fps").cast("long").alias("n_fps"),
            (
                F.size("fps").cast("double")
                / (F.col("n_grams") - WINNOW_W + 1)
            ).alias("fp_density"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_fps"),
            (
                F.coalesce("n_shared", F.lit(0)).cast("double") / F.size("fps")
            ).alias("shared_frac"),
        )
        # materialize through the cache before the finally releases it
        return out.localCheckpoint()
    finally:
        fp.unpersist(blocking=False)


winnow_fingerprint_overlap.__doc__ = _WINNOW_DOC
