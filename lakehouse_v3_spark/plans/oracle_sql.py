"""DuckDB SQL fragments for the rules each oracle shares with its Spark
plan — the one DuckDB home of each rule, so no two oracles can drift:

  - ``TOKS``: the letter-run tokenizer (Spark: functions.text.tokens;
    reference news_article_sentiment.py:25-35);
  - ``MD5_8``: the md5-prefix shingle hash (Spark: operators.dedup.md5_int);
  - ``MD5_SPLIT_CASE`` / ``mod10_split_case``: the 80/10/10 splits
    (Spark: pipelines.curation.md5_split / mod10_split);
  - ``fold_sum`` and the vector folds built on it (``dot``, ``cos``,
    ``sqdist``, ``sqflat``; pq_train_sql.sq_fold): 0.0-seeded left-fold
    sums in index order, bit-identical to the Spark and numpy kernels;
  - ``iter_body`` / ``SHIFT_EXPR``: one Lloyd iteration and its
    integer micro-unit shift.

A leaf: it imports constants from ``operators/`` and no plan module.
"""

from __future__ import annotations

from ..operators.dedup import MINHASH_PRIME

# letter-run tokens of lowered text, empties removed
TOKS = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"

# first 8 hex digits of md5(shingle) → BIGINT % MINHASH_PRIME
MD5_8 = f"(('0x' || substr(md5(shingle), 1, 8))::BIGINT % {MINHASH_PRIME})"

# 80/10/10 split on the md5 bucket of doc_id
MD5_SPLIT_CASE = (
    "CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train' "
    "WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val' "
    "ELSE 'test' END"
)


def mod10_split_case(id_: str) -> str:
    """80/10/10 split on ``id_ % 10``."""
    return (
        f"CASE WHEN {id_} % 10 < 8 THEN 'train' "
        f"WHEN {id_} % 10 = 8 THEN 'val' ELSE 'test' END"
    )


def fold_sum(xs: str) -> str:
    """0.0-seeded left-fold sum of the DOUBLE list ``xs``, in list order."""
    return f"list_reduce(list_prepend(0.0::DOUBLE, {xs}), (acc, x) -> acc + x)"


def dot(a: str, b: str) -> str:
    return fold_sum(
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    )


def cos(a: str, b: str) -> str:
    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def sqdist(emb: str, cv: str) -> str:
    """Left-fold Σ (emb[j]-cv[j])² — the DuckDB twin of
    operators.ivf._cell_dists_np (same 0.0 seed, same index order —
    the Arrow UDF does the identical sequential fold, vectorized over
    rows). ``cv`` is already DOUBLE."""
    return fold_sum(
        f"list_transform(range(1, len({emb}) + 1), "
        f"j -> ({emb}[j]::DOUBLE - {cv}[j]) * ({emb}[j]::DOUBLE - {cv}[j]))"
    )


def sqflat(a: str, b: str) -> str:
    """Flat exact left-fold Σ (a[d]-b[d])² over the FULL vector — the
    ground-truth squared-L2 the reranks and the audits use (one 0.0-
    seeded fold over all dims, distinct from ADC's nested fold)."""
    return fold_sum(
        f"list_transform(range(1, len({a}) + 1), "
        f"d -> ({a}[d]::DOUBLE - {b}[d]::DOUBLE) * "
        f"({a}[d]::DOUBLE - {b}[d]::DOUBLE))"
    )


# max integer micro-unit shift between centroid tables n (new) and p (prev)
SHIFT_EXPR = (
    "MAX(ABS(CAST(ROUND(n.component * 1e6, 0) AS BIGINT)"
    " - CAST(ROUND(p.component * 1e6, 0) AS BIGINT)))"
)


def iter_body(prev: str) -> tuple[str, str]:
    """(assign+update SQL producing (cid, dim, n_assigned, component)
    from centroid table/CTE ``prev``, wide-centroid SQL for ``prev``) —
    one Lloyd iteration over ``embeddings``, shared verbatim by the IVF
    and SemDeDup cluster oracles, unrolled and early-exit alike."""
    wide = f"SELECT cid, list(component ORDER BY dim) AS cv FROM {prev} GROUP BY cid"
    update = f"""
SELECT cid, CAST(dim AS INT) AS dim, COUNT(*) AS n_assigned,
       ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE)
             / COUNT(*), 6) AS component
FROM (
  SELECT a.cid, unnest(range(len(e.embedding))) AS dim, unnest(e.embedding) AS val
  FROM (
    SELECT vec_id, cid FROM (
      SELECT d.vec_id, d.cid,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dist, d.cid) AS rn
      FROM (
        SELECT e2.vec_id, w.cid, {sqdist("e2.embedding", "w.cv")} AS dist
        FROM embeddings e2 CROSS JOIN ({wide}) w
      ) d
    ) WHERE rn = 1
  ) a JOIN embeddings e USING (vec_id)
)
GROUP BY cid, dim
"""
    return update, wide
