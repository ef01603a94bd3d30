"""End-to-end LLM curation pipeline (r9 verdict items #1 and #2):
per-stage unit semantics, the orchestrated DAG's run → skip-rerun →
incremental contract, and DAG ≡ pure-composition equivalence (the
warehouse funnel must match run_funnel byte-for-byte)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from lakehouse_v3_spark.pipelines import curation as C
from lakehouse_v3_spark.pipelines import maintenance as M
from lakehouse_v3_spark.tables import TableManager

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    """rows: (doc_id, text[, lang])"""
    return spark.createDataFrame(
        [(i, t, (r[2] if len(r) > 2 else "en")) for r in rows for i, t in [(r[0], r[1])]],
        "doc_id LONG, text STRING, lang STRING",
    )


def _md5_split(doc_id: int) -> str:
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
    return "train" if b < 80 else ("val" if b < 90 else "test")


# ---------------------------------------------------------------------------
# per-stage unit semantics
# ---------------------------------------------------------------------------

def test_quality_filter_gate(spark):
    ten = " ".join(f"tok{i}" for i in range(10))
    five = " ".join(f"tok{i}" for i in range(5))
    huge = " ".join(f"tok{i}" for i in range(1001))
    stopy = "the a of and to in " + "word " * 6  # 12 toks, 6 stop → ratio 0.5
    d = _docs(spark, [(1, ten), (2, five), (3, huge), (4, stopy)])
    kept = {r.doc_id for r in C.quality_filter(d).collect()}
    assert kept == {1}  # 2: too short, 3: too long, 4: ratio 0.5 not < 0.5


def test_exact_dedup_min_keeper(spark):
    d = _docs(
        spark,
        [
            (5, "Hello, World! This is fine."),
            (2, "hello world this is fine"),  # same normalized content
            (9, "a different document entirely"),
        ],
    )
    kept = {r.doc_id for r in C.exact_dedup(d).collect()}
    assert kept == {2, 9}


def test_near_dup_drop_greedy_keep_min(spark):
    d = _docs(spark, [(1, "x"), (2, "y"), (3, "z")])
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.6)], "id_a LONG, id_b LONG, jaccard DOUBLE"
    )
    kept = {r.doc_id for r in C.near_dup_drop(d, pairs).collect()}
    assert kept == {1, 3}  # 2 dropped (>=0.85 pair); 3 kept (0.6 < 0.85)


def test_leakage_drop_train_side_only(spark):
    docs_split = spark.createDataFrame(
        [(1, "train"), (2, "val"), (3, "test"), (4, "train")],
        "doc_id LONG, split STRING",
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, 0.6),   # train-val → drop train side (1)
            (2, 3, 0.7),   # val-test → audit-only, drop NEITHER
            (2, 4, 0.3),   # below LEAK threshold → ignored
        ],
        "id_a LONG, id_b LONG, jaccard DOUBLE",
    )
    kept = {r.doc_id for r in C.leakage_drop(docs_split, pairs).collect()}
    assert kept == {2, 3, 4}


def test_assign_split_matches_md5_convention(spark):
    d = _docs(spark, [(i, f"doc {i}") for i in range(120)])
    got = {r.doc_id: r.split for r in C.assign_split(d).collect()}
    assert got == {i: _md5_split(i) for i in range(120)}
    assert set(got.values()) == {"train", "val", "test"}


def test_decontaminate_eval_overlap(spark):
    shared = " ".join(f"ev{i}" for i in range(8))  # one 8-gram
    d_all = _docs(
        spark,
        [
            (29, shared + " tail tokens here"),        # eval doc (29 % 29 == 0)
            (1, "prefix words " + shared),             # shares the 8-gram → drop
            (2, " ".join(f"clean{i}" for i in range(12))),  # clean → keep
        ],
    )
    kept = {r.doc_id for r in C.decontaminate(d_all, d_all).collect()}
    assert kept == {2}  # 29 removed as eval, 1 dropped as contaminated


def test_run_funnel_packed_is_lazy(spark, monkeypatch):
    """r11 ADVICE #2: building the funnel and collecting its gold stage
    must NOT run the pack stage (pack_corpus runs a driver partials job
    + localCheckpoint at build time); callers pack ``["leakage"]``."""
    docs = spark.createDataFrame(
        [(i, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
         for i in range(1, 6)],
        "doc_id LONG, lang STRING, text STRING",
    )
    calls = []
    real = C.pack_corpus
    monkeypatch.setattr(C, "pack_corpus", lambda *a, **k: calls.append(1) or real(*a, **k))
    C.run_funnel(docs)["gold"].collect()
    assert not calls


# ---------------------------------------------------------------------------
# the orchestrated DAG: run → skip-rerun → incremental, DAG ≡ run_funnel
# ---------------------------------------------------------------------------

def _land(spark, landing: str, name: str, df) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(landing, name))


def _funnel_table(tm) -> dict[str, int]:
    return {
        r.stage: r.n_docs for r in tm.read("curation.gold_funnel").collect()
    }


def _expected_counts(docs) -> dict[str, int]:
    f = C.run_funnel(docs)
    return {
        name: f[name].count()
        for name in (
            "ingest", "quality", "exact_dedup", "near_dup",
            "decontaminate", "leakage",
        )
    }


def test_curation_dag_end_to_end_skip_and_incremental(spark, tmp_path_factory):
    landing = str(tmp_path_factory.mktemp("curation_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("curation_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    _land(spark, landing, "batch1", src.filter(F.col("doc_id") % 2 == 0))
    _land(spark, landing, "batch2", src.filter(F.col("doc_id") % 2 == 1))

    dag = C.curation_dag(spark, landing, tm, retries=0)
    rep = dag.run()
    assert rep.ok, rep.states()
    states = rep.states()
    assert states.pop("maintain") in ("success", "skipped")
    assert states == {
        "ingest": "success", "quality_filter": "success",
        "exact_dedup": "success", "near_dup_dedup": "success",
        "decontaminate": "success", "split_assign": "success",
        "leakage_drop": "success", "pack": "success",
        "gold_summary": "success",
    }
    ing = rep.tasks["ingest"].result
    assert ing["new_files"] == 2 and ing["mode"] == "incremental"

    # DAG ≡ pure composition: the warehouse funnel equals run_funnel
    # over the same bronze rows, stage by stage
    funnel1 = _funnel_table(tm)
    assert funnel1 == _expected_counts(tm.read("curation.bronze_docs"))
    # and the gold summary equals the composed gold
    gold_tbl = {
        (r.lang, r.split): (r.n_docs, r.n_tokens)
        for r in tm.read("curation.gold_summary").collect()
    }
    gold_fn = {
        (r.lang, r.split): (r.n_docs, r.n_tokens)
        for r in C.run_funnel(tm.read("curation.bronze_docs"))["gold"].collect()
    }
    assert gold_tbl == gold_fn
    # every gold_corpus survivor carries a split, and no train survivor
    # near-dups a val/test survivor above the leak threshold (the drop
    # actually happened): re-deriving the drop set on the final corpus
    # must be empty
    final = tm.read("curation.gold_corpus")
    assert final.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    residual = C.leakage_drop(final, tm.read("curation.near_dup_pairs"))
    assert residual.count() == final.count()

    # pack stage: DAG table == pure composition, bins respect splits,
    # and per-(split, lang) packed token totals equal the gold summary
    packed_tbl = {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in tm.read("curation.gold_packed").collect()
    }
    packed_fn = {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in C.pack_corpus(
            C.run_funnel(tm.read("curation.bronze_docs"))["leakage"]
        ).collect()
    }
    assert packed_tbl == packed_fn
    import collections
    tot = collections.Counter()
    for split, lang, n_tok, _bin in packed_tbl.values():
        tot[(lang, split)] += n_tok
    assert dict(tot) == {k: v[1] for k, v in gold_tbl.items()}
    # within every (split, lang): bins are the contiguous cumsum
    # assignment (non-decreasing in doc_id order, starting at 0)
    bins = collections.defaultdict(list)
    for doc_id, (split, lang, n_tok, b) in sorted(packed_tbl.items()):
        bins[(split, lang)].append(b)
    for seq in bins.values():
        assert seq[0] == 0 and all(a <= b for a, b in zip(seq, seq[1:]))

    # idempotent re-run: ingest SKIPS on the file log; every stage
    # self-skips on its consumed-tick marker (r12: none_failed stages
    # check the sidecar themselves instead of upstream-skipping, so a
    # crashed run can resume — the empty tick stays zero Spark jobs)
    rep2 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep2.ok
    assert rep2.states()["ingest"] == "skipped"
    assert set(rep2.states().values()) == {"skipped"}
    assert _funnel_table(tm) == funnel1

    # incremental: one NEW landing file → only it is ingested, layers
    # recompute over the grown bronze
    extra = src.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    _land(spark, landing, "batch3", extra)
    rep3 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep3.ok, rep3.states()
    assert rep3.tasks["ingest"].result["new_files"] == 1
    # the +1_000_000 ids honor the watermark contract → the tick is
    # INCREMENTAL, and the heavy stages were batch-scoped: the near-dup
    # task shingled exactly the tick's exact-dedup delta, not the corpus
    assert rep3.tasks["ingest"].result["mode"] == "incremental"
    nd3 = rep3.tasks["near_dup_dedup"].result
    assert nd3["batch_docs"] == tm.read("curation.exact_delta").count()
    assert nd3["batch_docs"] < tm.read("curation.silver_exact").count()
    funnel3 = _funnel_table(tm)
    assert funnel3["ingest"] == funnel1["ingest"] + extra.count()
    assert funnel3 == _expected_counts(tm.read("curation.bronze_docs"))


# ---------------------------------------------------------------------------
# r10 verdict item #2: incremental ticks ≡ full recompute, batch-scoped
# heavy stages, and the non-monotone rebuild escape hatch
# ---------------------------------------------------------------------------

def _ids(tm, table):
    return {r.doc_id for r in tm.read(table).select("doc_id").collect()}


def _funnel_tables_equal_full(spark, tm):
    """Assert every silver/gold table equals the pure run_funnel
    composition over the full bronze — the incremental ≡ full-recompute
    property (frame-level, not just counts)."""
    f = C.run_funnel(tm.read("curation.bronze_docs"))
    for table, stage in (
        ("curation.silver_quality", "quality"),
        ("curation.silver_exact", "exact_dedup"),
        ("curation.silver_neardup", "near_dup"),
        ("curation.silver_clean", "decontaminate"),
    ):
        assert _ids(tm, table) == {
            r.doc_id for r in f[stage].select("doc_id").collect()
        }, f"{table} diverged from run_funnel[{stage}]"
    # the maintained pair set must equal the full-corpus star pair job
    got_pairs = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in tm.read("curation.near_dup_pairs").collect()
    }
    want_pairs = {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in f["pairs"].collect()
    }
    assert got_pairs == want_pairs
    # gold layers: full-row equality
    assert {
        (r.doc_id, r.split) for r in tm.read("curation.gold_split").collect()
    } == {(r.doc_id, r.split) for r in f["split"].collect()}
    assert _ids(tm, "curation.gold_corpus") == {
        r.doc_id for r in f["leakage"].collect()
    }
    assert {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in tm.read("curation.gold_packed").collect()
    } == {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in C.pack_corpus(f["leakage"]).collect()
    }
    assert {
        (r.lang, r.split): (r.n_docs, r.n_tokens)
        for r in tm.read("curation.gold_summary").collect()
    } == {
        (r.lang, r.split): (r.n_docs, r.n_tokens)
        for r in f["gold"].collect()
    }


def _assert_overwrites_vacuumed(tm):
    """Every table the DAG writes is maintained, and every one it
    overwrites each tick holds only its live commit dir after the
    maintain task: disk use stays flat across ticks."""
    written = {f"curation.{d}" for d in os.listdir(tm.path("curation"))}
    maintained = set(C._MAINTAINED_TABLES) | set(C._OVERWRITTEN_TABLES)
    assert written <= maintained, written - maintained
    for t in written & set(C._OVERWRITTEN_TABLES):
        assert len(os.listdir(os.path.join(tm.path(t), "_txn_data"))) == 1, t


def test_incremental_ticks_equal_full_recompute(spark, tmp_path_factory):
    """Three monotone ticks through the incremental DAG converge to the
    EXACT tables one run_funnel over the union corpus produces — the §5
    property-gate pattern (like test_schedule's backfill ≡ batch), at
    frame level for every silver/gold table including the pair set."""
    landing = str(tmp_path_factory.mktemp("cur_inc_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_inc_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    a, b = hi // 3, 2 * hi // 3
    slices = [
        src.filter(F.col("doc_id") <= a),
        src.filter((F.col("doc_id") > a) & (F.col("doc_id") <= b)),
        src.filter(F.col("doc_id") > b),
    ]
    for i, sl in enumerate(slices):
        _land(spark, landing, f"tick{i}", sl)
        rep = C.curation_dag(spark, landing, tm, retries=0).run()
        assert rep.ok, rep.states()
        assert rep.tasks["ingest"].result["mode"] == "incremental"
        if i > 0:
            # the heavy stages were batch-scoped: near-dup shingled
            # exactly this tick's exact-delta, a strict subset of the
            # accumulated corpus
            nd = rep.tasks["near_dup_dedup"].result
            assert nd["batch_docs"] == tm.read("curation.exact_delta").count()
            assert nd["batch_docs"] < tm.read("curation.silver_exact").count()
        # equality holds after EVERY tick, not just the last
        _funnel_tables_equal_full(spark, tm)


def test_rebuild_on_nonmonotone_batch(spark, tmp_path_factory):
    """A tick violating the max-id watermark contract (arriving ids at
    or below the stored max) cannot be patched incrementally — ingest
    must detect it, report mode='rebuild', and replay the corpus; the
    tables still end exactly equal to the full recompute."""
    landing = str(tmp_path_factory.mktemp("cur_rb_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_rb_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    # HIGH ids land first, LOW ids second → tick 2 is non-monotone
    _land(spark, landing, "high", src.filter(F.col("doc_id") > hi // 2))
    rep1 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep1.ok and rep1.tasks["ingest"].result["mode"] == "incremental"
    _land(spark, landing, "low", src.filter(F.col("doc_id") <= hi // 2))
    rep2 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep2.ok, rep2.states()
    assert rep2.tasks["ingest"].result["mode"] == "rebuild"
    _funnel_tables_equal_full(spark, tm)


def test_incremental_pair_update_plan_is_batch_scoped(spark, tmp_path_factory):
    """The verified-pair lineage on an incremental tick must scan ONLY
    the batch delta and the two index tables — never bronze_docs /
    silver_exact / the documents fixture (the r10 scale finding: a
    tick must not re-pair the corpus). Checked on the LAZY plan
    (materialize=False seam)."""
    import io as _io
    from contextlib import redirect_stdout

    wh = str(tmp_path_factory.mktemp("cur_plan_wh"))
    tm = TableManager(spark, wh, backend="parquet")
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    tm.overwrite(src.limit(50), "curation.exact_delta")
    tm.overwrite(
        spark.createDataFrame([], "band_key STRING, id_a LONG"),
        "curation.lsh_hubs",
    )
    tm.overwrite(
        spark.createDataFrame([], "doc_id LONG, shingle STRING"),
        "curation.lsh_shingles",
    )
    verified, _, _ = C.incremental_pair_update(
        tm.read("curation.exact_delta"),
        tm.read("curation.lsh_hubs"),
        tm.read("curation.lsh_shingles"),
        materialize=False,
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        verified.explain("formatted")
    plan = buf.getvalue()
    assert "exact_delta" in plan and "lsh_hubs" in plan
    for forbidden in ("bronze_docs", "silver_exact", "documents.parquet"):
        assert forbidden not in plan, f"full-corpus scan leaked: {forbidden}"


# ---------------------------------------------------------------------------
# r10 verdict item #3: embedding stages composed into the pipeline
# ---------------------------------------------------------------------------

def test_embedding_stages_dag_equals_funnel(spark, tmp_path_factory):
    """With the embeddings feature table, the DAG grows a semantic_dedup
    task (SemDeDup centroid-policy pruning over incrementally-maintained
    emb pairs) and the embedding-cosine leakage drop — and over two
    incremental ticks still converges to exactly
    run_funnel(embeddings=...) on the union corpus."""
    landing = str(tmp_path_factory.mktemp("cur_emb_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_emb_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    slices = [
        src.filter(F.col("doc_id") <= hi // 2),
        src.filter(F.col("doc_id") > hi // 2),
    ]
    for i, sl in enumerate(slices):
        _land(spark, landing, f"etick{i}", sl)
        rep = C.curation_dag(
            spark, landing, tm, retries=0, embeddings=emb
        ).run()
        assert rep.ok, rep.states()
        assert "semantic_dedup" in rep.states()
        if i > 0:
            sem = rep.tasks["semantic_dedup"].result
            # the emb probe was batch-scoped too
            assert sem["batch_docs"] == tm.read("curation.neardup_delta").count()
            assert sem["batch_docs"] < tm.read("curation.silver_neardup").count()
    _assert_overwrites_vacuumed(tm)

    f = C.run_funnel(tm.read("curation.bronze_docs"), embeddings=emb)
    # maintained emb pair set == full cluster-blocked GEMM pair job:
    # MEMBERSHIP exactly (ids), scores to 1e-9 (rectangle vs full-matrix
    # BLAS may differ in low bits; downstream consumes membership only)
    got_pairs = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in tm.read("curation.emb_pairs").collect()
    }
    want_pairs = {
        (r.id_a, r.id_b): r.cosine_sim for r in f["emb_pairs"].collect()
    }
    assert set(got_pairs) == set(want_pairs) and got_pairs
    assert all(
        abs(got_pairs[k] - want_pairs[k]) < 1e-9 for k in got_pairs
    )
    # silver_clean reflects the semantic drop (stage M) exactly
    assert _ids(tm, "curation.silver_clean") == {
        r.doc_id for r in f["decontaminate"].collect()
    }
    # gold corpus reflects BOTH leakage rules
    assert _ids(tm, "curation.gold_corpus") == {
        r.doc_id for r in f["leakage"].collect()
    }
    # the funnel table carries the semantic stage row, equal to the
    # composed stage count
    funnel = _funnel_table(tm)
    assert funnel["semantic"] == f["semantic"].count()
    # packed output equal too (the full downstream re-derivation)
    assert {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in tm.read("curation.gold_packed").collect()
    } == {
        r.doc_id: (r.split, r.lang, r.n_tok, r.bin)
        for r in C.pack_corpus(f["leakage"]).collect()
    }

# ---------------------------------------------------------------------------
# r11 ADVICE high: crash recovery — a run that dies after ingest (or
# anywhere down the chain) must fold the batch on the next DAG run
# ---------------------------------------------------------------------------

def test_crash_after_ingest_resumes_and_converges(spark, tmp_path_factory):
    """Ingest commits, then the first downstream stage 'crashes'
    (injected). Before r12 a re-run made ingest Skip and every stage
    upstream-skip — the batch's delta was never folded (permanent
    silent divergence). Now the re-run resumes: ingest reports
    mode='resume' and the unconsumed stages execute."""
    landing = str(tmp_path_factory.mktemp("cur_crash_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_crash_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    _land(spark, landing, "t1", src.filter(F.col("doc_id") <= hi // 2))
    rep1 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep1.ok, rep1.states()

    # tick 2 lands; the run dies at quality_filter (before any
    # downstream work) — exactly the ADVICE scenario: the file log is
    # already committed
    _land(spark, landing, "t2", src.filter(F.col("doc_id") > hi // 2))
    rep2 = C.curation_dag(spark, landing, tm, retries=0).run(
        {"_fail_tasks": {"quality_filter"}}
    )
    assert rep2.states()["ingest"] == "success"
    assert rep2.states()["quality_filter"] == "failed"
    assert rep2.states()["gold_summary"] == "upstream_failed"

    # plain re-run, no new files: resume path folds the batch
    rep3 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep3.ok, rep3.states()
    ing = rep3.tasks["ingest"].result
    assert ing["mode"] == "resume" and ing["new_files"] == 0
    assert rep3.states()["quality_filter"] == "success"
    _funnel_tables_equal_full(spark, tm)

    # steady state afterwards: everything skips, nothing pending
    rep4 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep4.ok and set(rep4.states().values()) == {"skipped"}


def test_crash_mid_chain_resumes_only_unconsumed_suffix(spark, tmp_path_factory):
    """A crash at leakage_drop: the re-run must SKIP the stages that
    already consumed the tick (their markers match) and run exactly
    the unconsumed suffix."""
    landing = str(tmp_path_factory.mktemp("cur_crash2_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_crash2_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    _land(spark, landing, "t1", src)
    rep1 = C.curation_dag(spark, landing, tm, retries=0).run(
        {"_fail_tasks": {"leakage_drop"}}
    )
    assert rep1.states()["near_dup_dedup"] == "success"
    assert rep1.states()["leakage_drop"] == "failed"

    rep2 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep2.ok, rep2.states()
    assert rep2.tasks["ingest"].result["mode"] == "resume"
    s = rep2.states()
    for consumed in ("quality_filter", "exact_dedup", "near_dup_dedup",
                     "decontaminate", "split_assign"):
        assert s[consumed] == "skipped", (consumed, s)
    for pending in ("leakage_drop", "pack", "gold_summary"):
        assert s[pending] == "success", (pending, s)
    _funnel_tables_equal_full(spark, tm)


def test_redelivery_rebuild_dedupes_bronze(spark, tmp_path_factory):
    """r11 ADVICE #3: a non-monotone tick that RE-DELIVERS already
    ingested doc_ids must not leave duplicate rows in bronze, and the
    rebuild replay must converge to run_funnel over distinct docs."""
    landing = str(tmp_path_factory.mktemp("cur_redel_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_redel_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    _land(spark, landing, "first", src)
    rep1 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep1.ok

    # the same docs re-delivered under a NEW landing file name → the
    # file log treats it as new; the ids violate the watermark
    _land(spark, landing, "redelivered", src.limit(100))
    rep2 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep2.ok, rep2.states()
    assert rep2.tasks["ingest"].result["mode"] == "rebuild"
    bronze = tm.read("curation.bronze_docs")
    assert bronze.count() == bronze.select("doc_id").distinct().count()
    assert bronze.count() == src.count()
    _funnel_tables_equal_full(spark, tm)


# ---------------------------------------------------------------------------
# r11 verdict item #2: state-table maintenance — file counts stay
# bounded across many ticks and compaction never changes contents
# ---------------------------------------------------------------------------

def test_maintain_bounds_state_table_file_counts(spark, monkeypatch, tmp_path_factory):
    monkeypatch.setattr(M, "MAINTAIN_FILE_BOUND", 10)
    landing = str(tmp_path_factory.mktemp("cur_maint_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_maint_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    edges = [hi * i // 6 for i in range(7)]
    compact_runs = 0
    for i in range(6):
        sl = src.filter(
            (F.col("doc_id") > edges[i]) & (F.col("doc_id") <= edges[i + 1])
        )
        _land(spark, landing, f"mtick{i}", sl)
        rep = C.curation_dag(spark, landing, tm, retries=0).run()
        assert rep.ok, rep.states()
        if rep.states()["maintain"] == "success":
            compact_runs += 1
            assert rep.tasks["maintain"].result["compacted"]
    assert compact_runs >= 1, "bound 10 never triggered across 6 ticks"
    _assert_overwrites_vacuumed(tm)
    # file counts bounded: nothing sits above bound + one tick's worth
    slack = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for t in C._MAINTAINED_TABLES:
        if tm.exists(t):
            n = len(tm.files(t))
            assert n <= 10 + slack, (t, n)
    # compaction never changed CONTENTS: incremental ≡ full recompute
    _funnel_tables_equal_full(spark, tm)
    # and an empty tick still skips everything, maintain included
    rep = C.curation_dag(spark, landing, tm, retries=0).run()
    assert set(rep.states().values()) == {"skipped"}


def test_crash_then_new_files_does_not_lose_the_pending_batch(spark, tmp_path_factory):
    """The sharpest crash-recovery corner: batch A's run crashes after
    ingest, then batch B LANDS before anyone re-runs. Ingest must fold
    A first (resume — ignoring B, whose files stay unlogged) and pick
    B up on the following run; overwriting the unconsumed delta with B
    would lose A's silver contributions permanently."""
    landing = str(tmp_path_factory.mktemp("cur_crash3_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_crash3_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    a, b = hi // 3, 2 * hi // 3
    _land(spark, landing, "t1", src.filter(F.col("doc_id") <= a))
    assert C.curation_dag(spark, landing, tm, retries=0).run().ok

    # batch A lands and its run crashes right after ingest
    _land(spark, landing, "tA", src.filter(
        (F.col("doc_id") > a) & (F.col("doc_id") <= b)
    ))
    rep = C.curation_dag(spark, landing, tm, retries=0).run(
        {"_fail_tasks": {"quality_filter"}}
    )
    assert rep.states()["ingest"] == "success"

    # batch B lands BEFORE the re-run
    _land(spark, landing, "tB", src.filter(F.col("doc_id") > b))

    # run 1: resume folds A; B's files stay unlogged
    rep1 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep1.ok, rep1.states()
    assert rep1.tasks["ingest"].result["mode"] == "resume"
    # run 2: ingests B as a normal incremental tick
    rep2 = C.curation_dag(spark, landing, tm, retries=0).run()
    assert rep2.ok, rep2.states()
    ing2 = rep2.tasks["ingest"].result
    assert ing2["mode"] == "incremental" and ing2["new_files"] == 1
    _funnel_tables_equal_full(spark, tm)


# ---------------------------------------------------------------------------
# r12 verdict item #2: cluster-model retrain-on-growth policy
# ---------------------------------------------------------------------------

def test_cluster_model_retrains_when_feature_table_outgrows(spark, tmp_path_factory):
    """The persisted SemDeDup cluster model retrains through the
    REBUILD path once the feature table reaches RETRAIN_GROWTH_FACTOR
    x its training-time row count (`trained_n` sidecar property);
    below the factor the model stays frozen (the documented lag), and
    the retrain tick re-converges the DAG to run_funnel on the grown
    feature table."""
    landing = str(tmp_path_factory.mktemp("cur_retrain_land"))
    tm = TableManager(
        spark, str(tmp_path_factory.mktemp("cur_retrain_wh")), backend="parquet"
    )
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    hi = src.agg(F.max("doc_id")).collect()[0][0]
    vmax = emb.agg(F.max("vec_id")).collect()[0][0]
    emb1 = emb.filter(F.col("vec_id") <= vmax // 3)
    emb2 = emb.filter(F.col("vec_id") <= vmax // 2)  # < 2x emb1
    n1 = emb1.count()
    assert emb2.count() < 2 * n1 <= emb.count()

    # tick 1: trains the model, records trained_n
    _land(spark, landing, "rt1", src.filter(F.col("doc_id") <= hi // 3))
    rep1 = C.curation_dag(spark, landing, tm, retries=0, embeddings=emb1).run()
    assert rep1.ok, rep1.states()
    props = tm.properties("curation.cluster_centroids")
    assert props.get("trained_n") == str(n1)

    # tick 2: feature table grew but below the factor — stays frozen
    _land(
        spark, landing, "rt2",
        src.filter((F.col("doc_id") > hi // 3) & (F.col("doc_id") <= 2 * hi // 3)),
    )
    rep2 = C.curation_dag(spark, landing, tm, retries=0, embeddings=emb2).run()
    assert rep2.ok, rep2.states()
    assert rep2.tasks["ingest"].result["mode"] == "incremental"
    assert tm.properties("curation.cluster_centroids").get("trained_n") == str(n1)

    # tick 3: feature table >= 2x trained_n — retrain via rebuild
    _land(spark, landing, "rt3", src.filter(F.col("doc_id") > 2 * hi // 3))
    rep3 = C.curation_dag(spark, landing, tm, retries=0, embeddings=emb).run()
    assert rep3.ok, rep3.states()
    ing3 = rep3.tasks["ingest"].result
    assert ing3["mode"] == "rebuild"
    assert ing3["rebuild_reason"] == "cluster_model_stale"
    assert tm.properties("curation.cluster_centroids").get("trained_n") == str(
        emb.count()
    )

    # the refreshed run == full recompute with the grown feature table
    f = C.run_funnel(
        tm.read("curation.bronze_docs").dropDuplicates(["doc_id"]),
        embeddings=emb,
    )
    assert _ids(tm, "curation.silver_clean") == {
        r.doc_id for r in f["decontaminate"].collect()
    }
    assert _ids(tm, "curation.gold_corpus") == {
        r.doc_id for r in f["leakage"].collect()
    }
    got_pairs = {
        (r.id_a, r.id_b) for r in tm.read("curation.emb_pairs").collect()
    }
    want_pairs = {(r.id_a, r.id_b) for r in f["emb_pairs"].collect()}
    assert got_pairs == want_pairs
