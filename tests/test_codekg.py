"""North-rule pipeline tests: planted-mention recall, CC correctness vs
union-find, stage resume, per-partition lineage reconciliation, sha256
invariant (SURVEY.md §5 items 2/4/5)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from structured_data_entity_extraction_spark import cc, codekg
from structured_data_entity_extraction_spark.cc import connected_components
from structured_data_entity_extraction_spark.fixtures import repos_src_rows
from structured_data_entity_extraction_spark.materialize import StageStore
from structured_data_entity_extraction_spark.pipeline import run_codekg_pipeline
from structured_data_entity_extraction_spark.schemas import REPOS_SRC


@pytest.fixture(scope="module")
def rows():
    return repos_src_rows(300, seed=11)


@pytest.fixture(scope="module")
def repos_df(spark, rows):
    return spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )


def test_planted_mention_recall(spark, repos_df, rows):
    """Every planted import/def/class/config value must be extracted
    (recall=1.0 on the seeded corpus)."""
    mentions = codekg.extract_code_mentions(repos_df)
    got = {
        (r["path"], r["field"], r["value"])
        for r in mentions.select("path", "field", "value").collect()
    }
    missing = []
    for row in rows:
        for field, value in row["planted"]:
            if (row["path"], field, value) not in got:
                missing.append((row["path"], field, value))
    assert not missing, f"{len(missing)} planted mentions missed: {missing[:5]}"


def test_doc_id_and_sha_invariant(spark, repos_df, rows):
    mentions = codekg.extract_code_mentions(repos_df)
    got = {
        r["path"]: (r["doc_id"], r["content_sha"])
        for r in mentions.select("path", "doc_id", "content_sha").distinct().collect()
    }
    for row in rows[:50]:
        want_doc = hashlib.sha256(
            f"{row['repo']}\x00{row['path']}\x00{row['commit']}".encode()
        ).hexdigest()
        want_sha = hashlib.sha256(row["content"].encode()).hexdigest()
        assert got[row["path"]] == (want_doc, want_sha)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc(df):
    """(labels, stats) of one connected_components call."""
    stats: dict = {}
    got = {r["node"]: r["component"] for r in connected_components(df, stats=stats).collect()}
    return got, stats


def test_cc_matches_union_find(spark):
    """Property check: CC labels equal a driver-side union-find on a
    random-ish alias graph with chains, stars and singleton pairs, and
    on a graph with no edges -- through both the driver path and the
    star path (a threshold of 0 forces it)."""
    import random

    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = []
    for _ in range(150):
        a, b = rng.sample(nodes, 2)
        edges.append((a, b))
    # a long chain to force >2 iterations + a self loop (singleton)
    for i in range(20):
        edges.append((f"c{i:02d}", f"c{i+1:02d}"))
    edges.append(("loner", "loner"))
    for graph in (edges, []):
        df = spark.createDataFrame(graph, "src string, dst string")
        want = _union_find(graph)
        got, stats = _cc(df)
        assert got == want and stats["method"] == "driver"
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "SMALL_THRESHOLD", 0)
            got, stats = _cc(df)
        assert got == want and stats["method"] == "star"
        assert stats["rounds"] <= 8
    # a failing size probe still releases the persisted edge set
    spark.catalog.clearCache()
    boom = F.when(F.col("src") == "loner", F.raise_error(F.lit("boom")))
    bad = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(Exception, match="boom"):
        connected_components(bad.withColumn("dst", boom.otherwise(F.col("dst"))))
    assert _cache_empty(spark)


def test_cc_star_converges_on_deep_chain(spark, monkeypatch):
    """A planted 200-node chain: the star algorithm converges in
    O(log^2 n) rounds, not O(diameter) -- the corpus-scale argument for
    deep near-dup link chains -- and RAISES when the round cap is hit
    rather than return unconverged labels."""
    edges = [(f"v{i:04d}", f"v{i+1:04d}") for i in range(200)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    monkeypatch.setattr(cc, "SMALL_THRESHOLD", 0)
    n0 = _persisted_rdds(spark)
    got, stats = _cc(df)
    assert got == _union_find(edges)
    assert stats["method"] == "star" and stats["rounds"] <= 12
    # every superseded round checkpoint is released: at most the
    # result's own stays persisted
    assert _persisted_rdds(spark) - n0 <= 1
    monkeypatch.setattr(cc, "MAX_ITER", 1)
    n0 = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)
    assert _persisted_rdds(spark) <= n0


def test_pipeline_resume_and_lineage(spark, repos_df, tmp_path):
    out = str(tmp_path / "warehouse")
    m1 = run_codekg_pipeline(spark, repos_df, out, run_id="r1")
    assert m1["triples"] > 0
    # lineage row counts reconcile with manifest totals per stage, and
    # the manifest's observed rows and sha fold match a fresh scan
    store = StageStore(out, run_id="r1")
    fold = F.conv(F.substring("content_sha", 1, 16), 16, 10).cast("decimal(20,0)")
    for stage in ("mentions", "candidates", "edges", "nodes", "triples", "_input_pairs"):
        m = store.manifest(stage)
        lin = store.lineage(spark, stage)
        total = lin.agg(F.sum("rows")).collect()[0][0]
        assert total == m["rows"]
        data = os.path.join(out, stage, "data")
        on_disk = sorted(
            os.path.relpath(os.path.join(r, f), data)
            for r, _d, fs in os.walk(data)
            for f in fs
            if f.endswith(".parquet")
        )
        assert sorted(f["file"] for f in m["lineage"]) == on_disk
        assert m["files"] == len(on_disk)
        assert m["bytes"] == sum(f["bytes"] for f in m["lineage"])
        scan = spark.read.parquet(data)
        if "content_sha" in scan.columns:
            rows, sha = scan.agg(F.count(F.lit(1)), F.sum(fold)).collect()[0]
            assert (m["rows"], m["content_sha_sum"]) == (rows, str(sha))
        else:
            assert (m["rows"], m["content_sha_sum"]) == (scan.count(), None)
    # the sidecar holds exactly the input identity the warehouse records,
    # in the warehouse's one manifest
    pm, record = store.manifest("_input_pairs"), store.record()
    assert (pm["rows"], pm["content_sha_sum"]) == (record["input_docs"], record["input_sha_digest"])
    manifests = [os.path.join(r, f) for r, _d, fs in os.walk(out) for f in fs if f == "_MANIFEST.json"]
    assert manifests == [os.path.join(out, "_MANIFEST.json")]

    # kill-after-stage simulation: drop 'triples' commit, resume under a
    # new run_id -> earlier stages are skipped (resumed), output identical
    t1 = spark.read.parquet(os.path.join(out, "triples", "data"))
    rows_before = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in t1.select("subj", "pred", "obj").collect()
    )
    _drop_stages(out, "triples")
    m2 = run_codekg_pipeline(spark, repos_df, out, run_id="r2")
    assert m2["stages"]["mentions"]["resumed"] is True
    assert m2["stages"]["triples"]["resumed"] is False
    t2 = spark.read.parquet(os.path.join(out, "triples", "data"))
    rows_after = sorted(
        (r["subj"], r["pred"], r["obj"]) for r in t2.select("subj", "pred", "obj").collect()
    )
    assert rows_before == rows_after


def test_sha_invariant_catches_foreign_pair(spark, rows, tmp_path, monkeypatch):
    """A stage row whose (doc_id, content_sha) pair is not in the input
    -- a corrupted sha or a foreign row -- is counted by the stage's own
    commit and aborts the pipeline with 'invariant violated' before that
    stage commits: planted at mentions, and planted at candidates."""
    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows[:30]],
        REPOS_SRC,
    )
    real_extract, real_link = codekg.extract_code_mentions, codekg.link_mentions

    def plant(frame):
        victim = frame.select("doc_id").orderBy("doc_id").first()["doc_id"]
        return frame.withColumn(
            "content_sha",
            F.when(F.col("doc_id") == victim, F.lit("f" * 64)).otherwise(F.col("content_sha")),
        )

    clean = real_extract(df)
    victim = clean.select("doc_id").orderBy("doc_id").first()["doc_id"]
    n_victim = clean.filter(F.col("doc_id") == victim).count()
    monkeypatch.setattr(codekg, "extract_code_mentions", lambda *a: plant(real_extract(*a)))
    with pytest.raises(RuntimeError, match=f"invariant violated at stage mentions: {n_victim} "):
        run_codekg_pipeline(spark, df, str(tmp_path / "w"))
    store = StageStore(str(tmp_path / "w"))
    assert not store.is_complete("mentions") and not store.is_complete("candidates")

    monkeypatch.setattr(codekg, "extract_code_mentions", real_extract)
    monkeypatch.setattr(codekg, "link_mentions", lambda *a: plant(real_link(*a)))
    with pytest.raises(RuntimeError, match="invariant violated at stage candidates: "):
        run_codekg_pipeline(spark, df, str(tmp_path / "w2"))
    store = StageStore(str(tmp_path / "w2"))
    assert store.is_complete("mentions") and not store.is_complete("candidates")


def test_resume_refuses_changed_input(spark, repos_df, tmp_path):
    """Silent-stale-resume guard (r4): a warehouse built from input A,
    re-run over A + appended docs, must RAISE -- the per-stage sha
    invariant alone cannot catch this (stale stages are a legitimate
    SUBSET of the grown input), so an append would otherwise resume
    checkpoints that silently miss every new document. Identical input
    keeps resuming cleanly."""
    out = str(tmp_path / "w")
    m1 = run_codekg_pipeline(spark, repos_df, out, run_id="r1")
    assert m1["triples"] > 0
    # same input -> clean resume
    m2 = run_codekg_pipeline(spark, repos_df, out, run_id="r2")
    assert all(s["resumed"] for s in m2["stages"].values())
    # appended input -> refuse
    extra = spark.createDataFrame(
        [("org9/new", "src/new.py", "f" * 40, "python", "import numpy")], REPOS_SRC
    )
    grown = repos_df.unionByName(extra)
    with pytest.raises(RuntimeError, match="different input"):
        run_codekg_pipeline(spark, grown, out, run_id="r3")


def test_incremental_append_matches_full_rebuild(spark, tmp_path):
    """run_codekg_pipeline_incremental: extract+link only the new batch,
    append, rebuild global stages -- final triples must be IDENTICAL to
    a from-scratch run over the full corpus (incl. the LSH link stage:
    linking is value-level with no cross-doc deps, canonicalization is
    rebuilt globally). The additive input digest must let a subsequent
    FULL run over old+new resume every stage; re-appending existing
    docs must raise."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(200, seed=23)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    df_a, df_b, df_ab = mk(rows[:160]), mk(rows[160:]), mk(rows)
    inc_root, full_root = str(tmp_path / "inc"), str(tmp_path / "full")

    run_codekg_pipeline(spark, df_a, inc_root, run_id="base")
    m_inc = run_codekg_pipeline_incremental(
        spark, df_b, inc_root, run_id="inc"
    )
    assert m_inc["new_docs"] == 40
    assert m_inc["stages"]["mentions"]["appended_rows"] > 0
    assert m_inc["stages"]["triples"]["rebuilt"] is True

    m_full = run_codekg_pipeline(spark, df_ab, full_root, run_id="f")
    cols = ["subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf"]
    got = sorted(
        map(tuple, spark.read.parquet(f"{inc_root}/triples/data").select(*cols).collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(f"{full_root}/triples/data").select(*cols).collect())
    )
    assert got == want and m_inc["triples"] == m_full["triples"]

    # additive digest: a FULL run over old+new now resumes everything
    m_resume = run_codekg_pipeline(spark, df_ab, inc_root, run_id="r")
    assert all(s["resumed"] for s in m_resume["stages"].values())

    # append-only: re-sending already-ingested docs raises
    with pytest.raises(RuntimeError, match="append-only"):
        run_codekg_pipeline_incremental(spark, df_b, inc_root, run_id="dup")


def test_append_guard_catches_zero_mention_docs(spark, tmp_path):
    """The overlap guard joins the input-identity SIDECAR, not extracted
    mentions: a doc whose content yields zero mentions (comment-only)
    has no mentions row, but re-appending it must still be refused --
    otherwise the additive digest double-counts it and a later full run
    over the true union spuriously refuses to resume."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(30, seed=31)
    base = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows],
        REPOS_SRC,
    )
    # empty python file: the mention explode on [] drops the doc
    ghost = ("orgz/ghost", "notes/empty.py", "a" * 40, "python", "")
    ghost_df = spark.createDataFrame([ghost], REPOS_SRC)
    root = str(tmp_path / "w")
    run_codekg_pipeline(
        spark, base.unionByName(ghost_df), root, run_id="b"
    )
    mentions = spark.read.parquet(f"{root}/mentions/data")
    from pyspark.sql import functions as F

    ghost_id = (
        ghost_df.select(
            F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("d")
        ).collect()[0]["d"]
    )
    assert mentions.filter(F.col("doc_id") == ghost_id).count() == 0  # truly zero-mention
    with pytest.raises(RuntimeError, match="append-only"):
        run_codekg_pipeline_incremental(spark, ghost_df, root, run_id="dup")


def test_ingest_batch_replay_and_partial_bootstrap(spark, tmp_path):
    """At-least-once safety for the streaming sink (code-review r5):
    (a) a REPLAYED batch (warehouse committed it, streaming offset log
    did not) is a no-op, not a crash loop; (b) partial overlap still
    raises; (c) a bootstrap crash between the mentions and candidates
    commits self-heals on redelivery."""
    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import ingest_repos_batch

    rows = repos_src_rows(60, seed=41)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    store = StageStore(root, run_id="b0")
    m0 = ingest_repos_batch(spark, store, mk(rows[:40]))
    assert m0["mode"] == "bootstrap"
    m1 = ingest_repos_batch(spark, StageStore(root, run_id="b1"), mk(rows[40:]))
    assert m1["mode"] == "incremental" and m1["new_docs"] == 20
    digest_after = StageStore(root).record()["input_sha_digest"]

    # (a) full replay of batch 1 -> no-op, digest unchanged
    m_replay = ingest_repos_batch(spark, StageStore(root, run_id="b1r"), mk(rows[40:]))
    assert m_replay["mode"] == "replay_noop" and m_replay["replayed_docs"] == 20
    assert StageStore(root).record()["input_sha_digest"] == digest_after

    # (b) partial overlap (10 old + 10 genuinely new) is NOT a replay
    more = repos_src_rows(80, seed=41)[60:70]
    with pytest.raises(RuntimeError, match="append-only"):
        ingest_repos_batch(
            spark, StageStore(root, run_id="bad"), mk(rows[50:] + more)
        )

    # (c) partial bootstrap: candidates commit lost -> redelivery of the
    # SAME first batch resumes mentions and rebuilds candidates
    root2 = str(tmp_path / "w2")
    ingest_repos_batch(spark, StageStore(root2, run_id="c0"), mk(rows[:40]))
    _drop_stages(root2, "candidates", "_input_pairs")  # crash before their commits
    m_heal = ingest_repos_batch(spark, StageStore(root2, run_id="c1"), mk(rows[:40]))
    assert m_heal["mode"] == "bootstrap"
    st2 = StageStore(root2)
    assert st2.is_complete("candidates") and st2.is_complete("_input_pairs")
    # and the healed warehouse accepts a fresh append
    m2 = ingest_repos_batch(spark, StageStore(root2, run_id="c2"), mk(rows[40:]))
    assert m2["mode"] == "incremental"


def test_full_run_refusal_does_not_poison_legacy_sidecar(spark, tmp_path):
    """Code-review r5: on a legacy (sidecar-less) warehouse, a refused
    run over a DIFFERENT input must not write that input's identity
    sidecar -- it would let already-ingested docs re-append as 'new'."""
    import shutil

    rows = repos_src_rows(30, seed=43)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    _drop_stages(root, "_input_pairs")  # legacy warehouse
    shutil.rmtree(f"{root}/_input_pairs")
    from structured_data_entity_extraction_spark.materialize import StageStore

    with pytest.raises(RuntimeError, match="different input"):
        run_codekg_pipeline(spark, mk(rows[20:]), root, run_id="x")
    assert not StageStore(root).is_complete("_input_pairs")  # NOT poisoned
    # the matching input re-seeds the sidecar on resume
    m = run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="r")
    assert all(s["resumed"] for s in m["stages"].values())
    assert StageStore(root).is_complete("_input_pairs")


def test_incremental_rebuild_checks_triples_invariant(spark, tmp_path, monkeypatch):
    """The triples an incremental run rebuilds face the sha invariant
    against the grown sidecar, as a full run's do: a (doc_id,
    content_sha) pair planted in build_triples aborts the run."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(30, seed=47)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    real_build = codekg.build_triples
    monkeypatch.setattr(
        codekg,
        "build_triples",
        lambda *a: real_build(*a).withColumn("content_sha", F.lit("f" * 64)),
    )
    with pytest.raises(RuntimeError, match="invariant violated at stage triples"):
        run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")


def test_append_refuses_warehouse_without_sidecar(spark, tmp_path):
    """An append guards new doc_ids with the input-identity sidecar: a
    warehouse without one refuses, naming the sidecar, before writing
    anything. A full run over the warehouse's input resumes every
    stage and writes the sidecar, and the append then goes through."""
    import shutil

    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(30, seed=49)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    _drop_stages(root, "_input_pairs")
    shutil.rmtree(f"{root}/_input_pairs")
    store = StageStore(root)

    def manifest():
        return open(store.manifest_path, encoding="utf-8").read()

    before = manifest()
    with pytest.raises(RuntimeError, match="sidecar"):
        run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")
    assert manifest() == before
    assert not store.is_complete("_input_pairs")

    m = run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="r")
    assert all(s["resumed"] for s in m["stages"].values())
    assert store.is_complete("_input_pairs")
    m_inc = run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i2")
    assert m_inc["new_docs"] == 10


def _files(root):
    """Every file under ``root``, path -> bytes."""
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            with open(os.path.join(r, f), "rb") as fh:
                out[os.path.join(r, f)] = fh.read()
    return out


def _drop_stages(root, *stages):
    """Drop stages from the warehouse's manifest, as a kill before their
    commit leaves them: unlisted, with their files still on disk."""
    store = StageStore(root)
    record = store.record()
    for stage in stages:
        del record["stages"][stage]
    store._swap(record)


def test_stale_sidecar_refuses_rebuild_and_append(spark, tmp_path):
    """The sidecar refuses another input like any committed stage: a
    warehouse built over docs 0-19 whose manifest lists only the sidecar
    refuses a rebuild over docs 20-39 before any work, leaving every
    file under the root as it was, and a batch overlapping the sidecar's
    docs refuses the same way, leaving the manifest as it was."""
    from structured_data_entity_extraction_spark.pipeline import ingest_repos_batch

    rows = repos_src_rows(60, seed=3)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="a")
    with pytest.raises(RuntimeError, match="different input"):
        run_codekg_pipeline(spark, mk(rows[20:40]), root, run_id="b")
    _drop_stages(root, "mentions", "candidates", "edges", "nodes", "triples")

    files_before = _files(root)
    with pytest.raises(RuntimeError, match="stages '_input_pairs' of .* different input"):
        run_codekg_pipeline(spark, mk(rows[20:40]), root, run_id="b2")
    assert _files(root) == files_before

    def manifests():
        return {
            os.path.join(r, f): open(os.path.join(r, f), encoding="utf-8").read()
            for r, _d, fs in os.walk(root)
            for f in fs
            if f == "_MANIFEST.json"
        }

    before = manifests()
    with pytest.raises(RuntimeError, match="'_input_pairs' .* different input"):
        ingest_repos_batch(spark, StageStore(root, run_id="c"), mk(rows[30:50]))
    assert manifests() == before


def test_manifestless_sidecar_reads_as_aborted(spark, tmp_path):
    """A sidecar directory the warehouse's manifest does not list (an
    aborted write, or one written before the sidecar was a committed
    stage) is no sidecar: an
    append refuses it, and a full run over the warehouse's input
    resumes every stage and rewrites it."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(30, seed=51)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    store = StageStore(root)
    _drop_stages(root, "_input_pairs")
    with pytest.raises(RuntimeError, match="no input-identity sidecar"):
        run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")
    assert not store.is_complete("_input_pairs")
    m = run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="r")
    assert all(s["resumed"] for s in m["stages"].values())
    pm = store.manifest("_input_pairs")
    assert (pm["rows"], pm["run_id"]) == (20, "r")
    assert store.read(spark, "_input_pairs").count() == 20


def _committed_files_only(store, stage):
    """True when the stage's data/ holds exactly its lineage files
    (checksum siblings and a commit's _SUCCESS marker aside)."""
    data = os.path.join(store.root, stage, "data")
    found = {
        os.path.relpath(os.path.join(r, f), data)
        for r, _d, fs in os.walk(data)
        for f in fs
        if not f.endswith(".crc") and f != "_SUCCESS"
    }
    return found == {f["file"] for f in store.manifest(stage)["lineage"]}


def _plant_uncommitted(store, stage):
    """Plant what a killed write leaves in a committed stage: an
    unlisted parquet file (with its checksum sibling) beside a listed
    one, and a committed task directory under data/_temporary holding
    a copy of it."""
    import shutil

    data = os.path.join(store.root, stage, "data")
    listed = store.manifest(stage)["lineage"][0]["file"]
    part_dir, name = os.path.split(listed)
    src, orphan = os.path.join(data, listed), "part-99999-orphan.c000.snappy.parquet"
    shutil.copy(src, os.path.join(data, part_dir, orphan))
    shutil.copy(os.path.join(data, part_dir, f".{name}.crc"), os.path.join(data, part_dir, f".{orphan}.crc"))
    task = os.path.join(data, "_temporary", "0", "task_202601010000_0000_m_000000", part_dir)
    os.makedirs(task)
    shutil.copy(src, os.path.join(task, orphan))
    assert not _committed_files_only(store, stage)


def test_uncommitted_files_roll_back_on_resume(spark, tmp_path):
    """Crash point inside one stage's commit: files a killed write left
    under a committed stage's data/ (an unlisted parquet file, a
    data/_temporary task directory) are not the stage. A resume over
    the same input reads exactly the committed rows and leaves data/
    holding exactly the lineage files; an append over the same debris
    in candidates passes the footer check, and its rebuilt triples
    equal a from-scratch run's."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(40, seed=32)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root, full_root = str(tmp_path / "w"), str(tmp_path / "full")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    store = StageStore(root)
    cols = ["doc_id", "field", "value", "content_sha"]
    committed = sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect()))

    _plant_uncommitted(store, "mentions")
    m = run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="r")
    assert all(s["resumed"] for s in m["stages"].values())
    assert sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect())) == committed
    assert _committed_files_only(store, "mentions")

    _plant_uncommitted(store, "candidates")
    run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")
    for stage in ("mentions", "candidates"):
        assert _committed_files_only(store, stage), stage
    run_codekg_pipeline(spark, mk(rows), full_root, run_id="f")
    tcols = ["subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf"]
    got, want = (
        sorted(map(tuple, StageStore(r).read(spark, "triples").select(*tcols).collect()))
        for r in (root, full_root)
    )
    assert got == want


def test_append_killed_before_its_swap_heals(spark, tmp_path, monkeypatch):
    """Crash points inside an append, which grows mentions, candidates
    and the sidecar in ONE manifest swap: killed in candidates' append
    after mentions' files landed, and killed in that swap after all
    three appends wrote. Either way nothing is committed, so the
    redelivered batch appends (mode incremental) with each grown stage's
    data/ holding exactly its lineage files, and the finalize triples
    equal a from-scratch run's."""
    from structured_data_entity_extraction_spark.pipeline import ingest_repos_batch

    rows = repos_src_rows(40, seed=34)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root, full_root = str(tmp_path / "w"), str(tmp_path / "full")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    store = StageStore(root)
    real_append = StageStore.append

    def killed_in_candidates(self, df, stage, *args):
        if stage == "candidates":
            raise OSError("killed in candidates' append")
        return real_append(self, df, stage, *args)

    def killed_in_swap(self, entries, drop=()):
        raise OSError("killed before the manifest swap")

    grown = ("mentions", "candidates", "_input_pairs")
    for attr, kill, batch in (
        ("append", killed_in_candidates, rows[20:30]),
        ("publish", killed_in_swap, rows[30:]),
    ):
        before = {stage: store.manifest(stage) for stage in grown}
        monkeypatch.setattr(StageStore, attr, kill)
        with pytest.raises(OSError, match="killed"):
            ingest_repos_batch(spark, StageStore(root, run_id="k"), mk(batch))
        monkeypatch.undo()
        assert {stage: store.manifest(stage) for stage in grown} == before
        assert not _committed_files_only(store, "mentions")
        m = ingest_repos_batch(spark, StageStore(root, run_id=f"i{attr}"), mk(batch))
        assert m["mode"] == "incremental" and m["new_docs"] == len(batch)
        for stage in grown:
            assert _committed_files_only(store, stage), stage
        assert not store.is_complete("triples") and not os.path.exists(os.path.join(root, "triples"))
    run_codekg_pipeline(spark, mk(rows), root, run_id="f")
    run_codekg_pipeline(spark, mk(rows), full_root, run_id="s")
    tcols = ["subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf"]
    got, want = (
        sorted(map(tuple, StageStore(r).read(spark, "triples").select(*tcols).collect()))
        for r in (root, full_root)
    )
    assert got == want


def test_compact_killed_midway_heals(spark, tmp_path, monkeypatch):
    """Crash points inside ``StageStore.compact``: killed before its
    manifest swap (the rewrite is unlisted) and after it (the old files
    are). Either way the next run resumes every stage with reads
    unchanged, and leaves data/ holding exactly the lineage files."""
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(40, seed=36)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")
    store = StageStore(root)
    cols = ["doc_id", "field", "value", "content_sha"]
    committed = sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect()))
    real_swap = StageStore._swap

    def killed_before_swap(self, record):
        raise OSError("killed before the manifest swap")

    def killed_after_swap(self, record):
        real_swap(self, record)
        raise OSError("killed after the manifest swap")

    for kill, swapped in ((killed_before_swap, False), (killed_after_swap, True)):
        lineage = store.manifest("mentions")["lineage"]
        monkeypatch.setattr(StageStore, "_swap", kill)
        with pytest.raises(OSError, match="killed"):
            StageStore(root, run_id="c").compact(spark, "mentions")
        monkeypatch.setattr(StageStore, "_swap", real_swap)
        assert (store.manifest("mentions")["lineage"] != lineage) == swapped
        assert not _committed_files_only(store, "mentions")
        m = run_codekg_pipeline(spark, mk(rows), root, run_id="r")
        assert all(s["resumed"] for s in m["stages"].values())
        assert sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect())) == committed
        assert _committed_files_only(store, "mentions")


def test_compact_preserves_reads_and_guards(spark, tmp_path):
    """StageStore.compact (r5 verdict #5): after N appends the stage
    holds many small batch files; compact must (a) drop the file count,
    (b) keep reads bit-identical, and (c) keep the resume identity guard
    refusing changed input (its crash points:
    ``test_compact_killed_midway_heals``)."""
    import os as _os

    from structured_data_entity_extraction_spark.materialize import StageStore
    from structured_data_entity_extraction_spark.pipeline import (
        run_codekg_pipeline_incremental,
    )

    rows = repos_src_rows(120, seed=77)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:60]), root, run_id="b")
    run_codekg_pipeline_incremental(spark, mk(rows[60:90]), root, run_id="i1")
    run_codekg_pipeline_incremental(spark, mk(rows[90:]), root, run_id="i2")

    def nfiles(stage):
        out = 0
        for r, _d, fs in _os.walk(_os.path.join(root, stage, "data")):
            out += sum(1 for f in fs if f.endswith(".parquet"))
        return out

    store = StageStore(root, run_id="c")
    cols = ["doc_id", "field", "value", "content_sha"]
    before = sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect()))
    files_before = nfiles("mentions")
    rep = store.compact(spark, "mentions")
    assert rep["files_after"] < files_before
    assert nfiles("mentions") == rep["files_after"]
    after = sorted(map(tuple, store.read(spark, "mentions").select(*cols).collect()))
    assert before == after
    # the sidecar compacts like any stage
    pairs_before = sorted(map(tuple, store.read(spark, "_input_pairs").collect()))
    files_before = nfiles("_input_pairs")
    rep = store.compact(spark, "_input_pairs")
    assert rep["files_after"] < files_before
    assert nfiles("_input_pairs") == rep["files_after"]
    assert sorted(map(tuple, store.read(spark, "_input_pairs").collect())) == pairs_before
    # manifest keeps rows + input identity: full run over the true union
    # still resumes, a grown input still refuses
    m = run_codekg_pipeline(spark, mk(rows), root, run_id="r")
    assert all(s["resumed"] for s in m["stages"].values())
    extra = spark.createDataFrame(
        [("orgx/zzz", "a.py", "e" * 40, "python", "import os")], REPOS_SRC
    )
    with pytest.raises(RuntimeError, match="different input"):
        run_codekg_pipeline(spark, mk(rows).unionByName(extra), root, run_id="r2")


def test_compact_all_compacts_the_listed_stages(spark, tmp_path, monkeypatch, capsys):
    """``--compact all`` compacts every stage the warehouse's manifest
    lists, the sidecar and the stages an append rebuilt included, with
    reads unchanged; a stream checkpoint under the root (the stream's
    default ``<root>/_stream_ckpt``) is no stage and stays
    byte-identical."""
    import collections

    from structured_data_entity_extraction_spark import pipeline, session

    rows = repos_src_rows(40, seed=38)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    run_codekg_pipeline(spark, mk(rows[:20]), root, run_id="b")
    pipeline.run_codekg_pipeline_incremental(spark, mk(rows[20:]), root, run_id="i")
    ckpt = os.path.join(root, "_stream_ckpt")
    os.makedirs(os.path.join(ckpt, "offsets"))
    for name, text in (("metadata", '{"id":"q"}\n'), ("offsets/0", "v1\n{}\n")):
        with open(os.path.join(ckpt, name), "w", encoding="utf-8") as fh:
            fh.write(text)
    ckpt_before = _files(ckpt)
    store = StageStore(root)
    stages = sorted(store.record()["stages"])
    assert len(stages) == 6
    read = lambda st: collections.Counter(map(tuple, store.read(spark, st).collect()))
    before = {st: read(st) for st in stages}

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    pipeline.main(["--output", root, "--compact", "all", "--run-id", "c"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "compact" and sorted(out["stages"]) == stages
    for st in stages:
        assert store.manifest(st)["run_id"] == "c", st
        assert read(st) == before[st], st
        assert _committed_files_only(store, st), st
    assert _files(ckpt) == ckpt_before


def test_append_writes_one_file_per_partition_per_batch(spark, tmp_path):
    """Each appended batch adds at most one file per (repo_bucket, lang)
    it touches to mentions and candidates, and one file to the
    _input_pairs sidecar, however the batch frames are partitioned; the
    bootstrap batch writes the sidecar as one file too."""
    import collections

    from structured_data_entity_extraction_spark.pipeline import ingest_repos_batch

    rows = repos_src_rows(100, seed=5)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    for i in range(4):
        ingest_repos_batch(spark, StageStore(root, run_id=f"b{i}"), mk(rows[25 * i : 25 * i + 25]))
    store = StageStore(root)
    appended = {"b1", "b2", "b3"}
    for stage in ("mentions", "candidates", "_input_pairs"):
        per_dir = collections.Counter(
            (f["run_id"], os.path.dirname(f["file"]))
            for f in store.manifest(stage)["lineage"]
            if f["run_id"] in appended
        )
        assert {run for run, _dir in per_dir} == appended, stage
        assert set(per_dir.values()) == {1}, (stage, per_dir)
    pairs = store.manifest("_input_pairs")
    assert [f["run_id"] for f in pairs["lineage"]].count("b0") == 1
    assert pairs["rows"] == 100


def test_checked_commit_keeps_layout_and_refuses_foreign_row(spark, tmp_path):
    """The sha check rides the commit without changing what it writes:
    one content_sha frame committed by a store without input pairs and
    by one with them lands as the same files with the same rows each,
    under the frame's own columns. The checked store refuses a planted
    foreign row before the stage's manifest is written."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from structured_data_entity_extraction_spark.session import local_frame

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("content_sha", T.StringType()),
            T.StructField("repo_bucket", T.IntegerType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    frame = lambda rs: local_frame(spark, rs, schema).repartition(4, "value")
    rows = [(f"d{i % 7}", f"v{i}", f"{i % 7:064x}", i % 3, ("py", "js")[i % 2]) for i in range(60)]
    pair_schema = T.StructType(schema.fields[:1] + schema.fields[2:3])
    pairs = local_frame(spark, [(f"d{k}", f"{k:064x}") for k in range(7)], pair_schema)
    plain, checked = StageStore(str(tmp_path / "plain")), StageStore(str(tmp_path / "checked"))
    checked.input_pairs = pairs

    def files(store):
        store.write(frame(rows), "s", ["repo_bucket", "lang"])
        lineage = store.manifest("s")["lineage"]
        return sorted((os.path.dirname(f["file"]), f["rows"]) for f in lineage)

    layout = files(plain)
    assert files(checked) == layout and len(layout) > 6
    data = os.path.join(checked.root, "s", "data")
    for f in checked.manifest("s")["lineage"]:
        names = pq.read_schema(os.path.join(data, f["file"])).names
        assert names == ["doc_id", "value", "content_sha"]
    assert plain.manifest("s")["sha_invariant"] is None
    assert checked.manifest("s")["sha_invariant"] == {"sha_invariant_ok": True}
    foreign = frame(rows + [("d0", "x", "f" * 64, 0, "py")])
    with pytest.raises(RuntimeError, match="invariant violated at stage bad: 1 "):
        checked.write(foreign, "bad", ["repo_bucket", "lang"])
    assert not checked.is_complete("bad")


def test_determinism(spark, repos_df, tmp_path):
    """Same input twice -> identical triples (SURVEY.md §5 item 4)."""
    a = run_codekg_pipeline(spark, repos_df, str(tmp_path / "w1"))
    b = run_codekg_pipeline(spark, repos_df, str(tmp_path / "w2"))
    ta = spark.read.parquet(str(tmp_path / "w1" / "triples" / "data"))
    tb = spark.read.parquet(str(tmp_path / "w2" / "triples" / "data"))
    sa = sorted(map(tuple, ta.select("subj", "pred", "obj").collect()))
    sb = sorted(map(tuple, tb.select("subj", "pred", "obj").collect()))
    assert sa == sb


def _stage_buckets(root, stage):
    """The repo_bucket values of a stage's hive directories."""
    data = os.path.join(root, stage, "data")
    return {int(d.split("=", 1)[1]) for d in os.listdir(data) if d.startswith("repo_bucket=")}


def _rows_of(stage_df, repos_src):
    """The stage rows of the documents in ``repos_src``."""
    ids = repos_src.select(
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("doc_id")
    )
    return stage_df.join(ids, "doc_id", "left_semi")


def test_pipeline_layout_derived_and_recorded(spark, repos_df, tmp_path, monkeypatch):
    """The partitioned stages' layout comes from the input's content
    bytes: a small input gets (1, 1), recorded once in the warehouse's
    manifest (no stage entry copies it), with all mentions, candidates
    and triples data under repo_bucket=0. The derivation clamps to
    (64, 8); given a recorded bucket count, the salt makes up the
    remaining keys."""
    from structured_data_entity_extraction_spark import pipeline
    from structured_data_entity_extraction_spark.ops.cache import cache_scope

    out = str(tmp_path / "w")
    m = run_codekg_pipeline(spark, repos_df, out)
    small = {"bucket_count": 1, "write_salt": 1}
    assert m["layout"] == small
    store = StageStore(out)
    assert store.record()["layout"] == small
    for stage in ("mentions", "candidates", "triples"):
        assert _stage_buckets(out, stage) == {0}
    for stage in ("mentions", "candidates", "edges", "nodes", "triples", "_input_pairs"):
        assert not {"layout", "input_sha_digest", "input_docs", "input_bytes"} & set(store.manifest(stage))

    with cache_scope():
        _pairs, _digest, _n, content_bytes = pipeline.input_identity(repos_df)
    assert content_bytes == sum(len((r or "").encode()) for (r,) in repos_df.select("content").collect())
    assert store.record()["input_bytes"] == content_bytes
    monkeypatch.setattr(pipeline, "LAYOUT_TARGET_BYTES", 1)
    assert pipeline.derive_layout(content_bytes) == {"bucket_count": 64, "write_salt": 8}
    assert pipeline.derive_layout(content_bytes, 2) == {"bucket_count": 2, "write_salt": 256}
    monkeypatch.setattr(pipeline, "LAYOUT_TARGET_BYTES", content_bytes // 5)
    assert 1 < pipeline.derive_layout(content_bytes)["bucket_count"] <= 64
    assert pipeline.derive_layout(content_bytes, 1)["write_salt"] > 1


def test_append_keeps_recorded_layout(spark, tmp_path, monkeypatch):
    """A warehouse built at 8 buckets keeps them: an incremental append
    (whose own small input would derive 1 bucket) writes its rows with
    repo_bucket = pmod(xxhash64(repo), 8). The manifests add up the
    input bytes, and the rebuilt triples take the write salt derived
    for the grown corpus. The final triples still equal a full
    rebuild's, which derives (1, 1)."""
    from structured_data_entity_extraction_spark import pipeline

    rows = repos_src_rows(120, seed=19)
    mk = lambda rs: spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rs],
        REPOS_SRC,
    )
    base_bytes = sum(len(r["content"].encode()) for r in rows[:100])
    total_bytes = sum(len(r["content"].encode()) for r in rows)
    inc_root, full_root = str(tmp_path / "inc"), str(tmp_path / "full")
    monkeypatch.setattr(pipeline, "LAYOUT_TARGET_BYTES", base_bytes // 8 + 1)
    base = run_codekg_pipeline(spark, mk(rows[:100]), inc_root, run_id="b")
    assert base["layout"] == {"bucket_count": 8, "write_salt": 1}
    assert len(_stage_buckets(inc_root, "mentions")) > 1

    m_inc = pipeline.run_codekg_pipeline_incremental(
        spark, mk(rows[100:]), inc_root, run_id="i"
    )
    grown = pipeline.derive_layout(total_bytes, 8)
    monkeypatch.undo()
    assert grown["write_salt"] > 1
    assert m_inc["layout"] == grown
    store = StageStore(inc_root)
    assert store.record()["layout"] == grown
    assert store.record()["input_bytes"] == total_bytes
    for stage in ("mentions", "candidates", "triples"):
        assert _stage_buckets(inc_root, stage) <= set(range(8))
    new = _rows_of(store.read(spark, "mentions"), mk(rows[100:]))
    assert new.count() > 0
    assert new.filter(
        F.col("repo_bucket") != F.pmod(F.xxhash64("repo"), F.lit(8))
    ).count() == 0

    m_full = run_codekg_pipeline(spark, mk(rows), full_root, run_id="f")
    assert m_full["layout"] == {"bucket_count": 1, "write_salt": 1}
    cols = ["subj", "pred", "obj", "doc_id", "repo", "lang", "content_sha", "conf"]
    got, want = (
        sorted(map(tuple, spark.read.parquet(f"{r}/triples/data").select(*cols).collect()))
        for r in (inc_root, full_root)
    )
    assert got == want


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persisted_rdds(spark) -> int:
    """RDDs the session holds persisted, local checkpoints included."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pipeline_releases_what_it_persists(spark, rows, tmp_path, monkeypatch):
    """A run leaves the session's cache as it found it: a clean run, a
    run aborted by the sha invariant, a refused overlapping append, an
    avaluo run, and a cache_scope around the in-memory avaluo records
    -> triples chain."""
    from structured_data_entity_extraction_spark.fixtures import avaluo_docs
    from structured_data_entity_extraction_spark.link import avaluo_records
    from structured_data_entity_extraction_spark.ops.cache import cache_scope
    from structured_data_entity_extraction_spark.pipeline import (
        run_avaluo_pipeline,
        run_codekg_pipeline_incremental,
    )
    from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS
    from structured_data_entity_extraction_spark.triples import records_to_triples

    df = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in rows[:30]],
        REPOS_SRC,
    )
    root = str(tmp_path / "w")
    spark.catalog.clearCache()
    run_codekg_pipeline(spark, df, root)
    assert _cache_empty(spark)

    with pytest.raises(RuntimeError, match="append-only"):
        run_codekg_pipeline_incremental(spark, df.limit(5), root, run_id="dup")
    assert _cache_empty(spark)

    real_extract = codekg.extract_code_mentions
    monkeypatch.setattr(
        codekg,
        "extract_code_mentions",
        lambda repos_src, bucket_count=64: real_extract(repos_src, bucket_count).withColumn(
            "content_sha", F.lit("f" * 64)
        ),
    )
    with pytest.raises(RuntimeError, match="invariant violated"):
        run_codekg_pipeline(spark, df, str(tmp_path / "w2"))
    assert _cache_empty(spark)

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in avaluo_docs(20, seed=3)], AVALUO_DOCS
    )
    assert run_avaluo_pipeline(spark, docs, str(tmp_path / "w3"))["records"] == 20
    assert _cache_empty(spark)
    with cache_scope():
        assert records_to_triples(avaluo_records(docs)).count() == 20 * 13
    assert _cache_empty(spark)


def test_build_triples_non_hex_ids_roundtrip(spark):
    """Regression (r3 review): the binary-shuffle optimization must not
    corrupt non-sha ids -- canonical-hex, mixed-case-hex and plain
    string ids all round-trip exactly and never merge."""
    cand_rows = [
        # (doc_id, repo, repo_bucket, lang, content_sha, field, value)
        ("d1", "r", 0, "python", "ab", "import", "numpy"),
        ("D1", "r", 0, "python", "AB", "import", "numpy"),
        ("doc-x", "r", 0, "python", "not-hex", "import", "numpy"),
    ]
    cands = spark.createDataFrame(
        cand_rows,
        "doc_id string, repo string, repo_bucket int, lang string, "
        "content_sha string, field string, value string",
    ).withColumn("score", F.lit(1.0)).withColumn("canonical", F.col("value"))
    nodes = spark.createDataFrame(
        [("numpy", "e", "numpy")], "surface string, entity_id string, canonical string"
    )
    out = codekg.build_triples(cands, nodes)
    doc_rows = {
        r["doc_id"]: r["content_sha"]
        for r in out.filter(F.col("pred") == "imports").collect()
    }
    assert doc_rows == {"d1": "ab", "D1": "AB", "doc-x": "not-hex"}


def test_lsh_links_near_aliases(spark):
    """MinHash-LSH blocking links a near-miss surface form to its dim
    canonical (L6)."""
    rows = [
        ("o/r", "a.py", "c" * 40, "python", "import numpyy\nimport totallyunknownmod"),
    ]
    df = spark.createDataFrame(rows, REPOS_SRC)
    mentions = codekg.extract_code_mentions(df)
    cands = codekg.link_mentions(mentions, codekg.code_alias_dim(spark))
    got = {
        r["value"]: (r["canonical"], r["method"])
        for r in cands.filter(F.col("field") == "import").collect()
    }
    assert got["numpyy"][0] == "numpy"
    assert got["numpyy"][1] == "lsh"
    assert got["totallyunknownmod"][0] is None


def test_build_kg_refuses_dictionary_only_linking(spark):
    """codekg has one linking configuration, the dictionary join plus
    the MinHash-LSH fuzzy link: build_kg refuses use_lsh=False instead
    of silently running the LSH link anyway."""
    df = spark.createDataFrame([], REPOS_SRC)
    with pytest.raises(ValueError, match="use_lsh=False"):
        codekg.build_kg(df, use_lsh=False)


def test_repos_fixture_parquet_matches_generator():
    """The committed input fixture parquet (the shared input of the
    codekg_triples SQL oracle) must be byte-equal to
    repos_src_rows(400, seed=42) -- so the oracle's input can never
    silently drift from the generator the tests and bench use."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    rows = repos_src_rows(400, seed=42)
    t = pq.read_table(entry._REPOS_FIXTURE).to_pydict()
    assert len(t["repo"]) == len(rows)
    for col in ("repo", "path", "commit", "lang", "content"):
        assert t[col] == [r[col] for r in rows], f"fixture drift in {col}"


def test_codekg_sql_oracle_matches_golden_parquet():
    """Triangulation (pure DuckDB, no Spark): the r4 full-pipeline SQL
    oracle must reproduce the make_goldens parquet (itself produced by
    an independent Python twin and historically hash-verified against
    Spark). Three implementations -- Spark engine, SQL oracle, Python
    twin -- all agree or this fails in ~2 s."""
    import duckdb

    import __spark_entry__ as entry

    golden = os.path.join(entry._GOLDEN_DIR, "codekg_triples.parquet")
    con = duckdb.connect()
    mine = con.sql(entry._codekg_triples_sql()).df()
    gold = con.sql(
        f"SELECT subj, pred, obj, doc_id, repo, lang, content_sha, conf "
        f"FROM read_parquet('{golden}') ORDER BY subj, pred, obj"
    ).df()
    assert len(mine) == len(gold)
    m, g = mine.reset_index(drop=True), gold.reset_index(drop=True)
    diff = (m != g) & ~(m.isna() & g.isna())
    assert not diff.any(axis=1).any(), m[diff.any(axis=1)].head()


# (lang, content) rows where Python ``re`` and an unpinned
# java.util.regex disagree: Unicode \w/\s/\b, line breaks other than
# \n, CRLF, a combining mark, a superscript digit, empty content
_NON_ASCII_ROWS = [
    ("python", "import caf\u00e9_util\nfrom na\u00efve.pkg import x\n"
               "def gr\u00f6\u00dfe(a):\n    pass\nclass \u00dcnicode:\n    caf\u00e9_id = 1\n"),
    ("javascript", "const \u00f1ame = (a) => a\nconst z = require('m\u00f3dulo');\n"
                   "import {x} from '\u00fcn\u00ef';\nfunction z\u00e9() {}\nclass \u03a9mega {}\n"),
    ("rust", "use crate::m\u00f3dulo::x;\nfn gr\u00fc\u00df() {}\nstruct Stra\u00dfe;\n"
             "enum \u03a9x {}\ntrait T\u00e9 {}\n"),
    ("go", 'import "fmt/\u00fcn\u00ef"\nfunc Gr\u00f6\u00dfe() {}\ntype \u00d1ame struct {}\n'),
    ("yaml", "cl\u00e9: 1\nna\u00efve.key: 2\n"),
    ("ini", "schl\u00fcssel=1\n"),
    # NFD: U+0301 is a combining mark, not a word char to Python
    ("python", "cafe\u0301_id = 1\ndef cafe\u0301_fn():\n    pass\nclass Cafe\u0301x:\n    pass\n"),
    ("python", "xyz\u00b2abc = 1\ndef xyz\u00b2():\n    pass\n"),
    ("python", "\x1cimport sep_mod\n\u00a0import nbsp_mod\n\u3000import ideo_mod\n\x85import nel_mod\n"),
    ("python", "x = 1\rimport cr_mod\nline\u2028import ls_mod\n"),
    ("python", "#!/usr/bin/env python3 \r\n# -*- coding: utf-8 -*-\r\nimport os\r\n"),
    ("python", "#!  \nimport a_mod\n"),
    ("python", None),
    ("python", ""),
    ("python", " \t\n\u3000\n"),
    (None, "def orphan_fn():\n    pass\n"),
]


def test_extract_matches_python_twin_non_ascii(spark):
    """The JVM projection pins Python ``re`` semantics (Unicode \\w \\s
    \\b, only \\n breaks lines): its (doc, field, value) multiset equals
    the pure-Python twin's exactly, on the oracle fixture corpus and on
    adversarial rows (non-ASCII names in every lang, NFD, superscripts,
    exotic whitespace and line breaks, CRLF shebang + cookie, null /
    empty / blank content, a >= 1 MB single-line blob)."""
    from collections import Counter

    from tools.make_goldens import _sha2_concat, extract_code

    big = "".join(f"const v{i}_\u00e9=require('m{i}');" for i in range(40000))
    adversarial = [
        ("o/adv", f"f{i}", "c" * 40, lang, content)
        for i, (lang, content) in enumerate(_NON_ASCII_ROWS + [("javascript", big)])
    ]
    assert len(big) >= 1 << 20
    fixture = [
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in repos_src_rows(400, seed=42)
    ]
    for rows in (adversarial, fixture):
        got = Counter(
            map(
                tuple,
                codekg.extract_code_mentions(spark.createDataFrame(rows, REPOS_SRC))
                .select("doc_id", "field", "value")
                .collect(),
            )
        )
        want = Counter(
            (_sha2_concat(repo, path, commit), field, value)
            for repo, path, commit, lang, content in rows
            for field, value in extract_code(content, lang)
        )
        assert got == want, (list((want - got).items())[:5], list((got - want).items())[:5])


def test_make_codekg_golden_reproduces_committed(tmp_path, monkeypatch):
    """The Python twin regenerates the committed codekg golden row for
    row, so the golden the SQL oracle is checked against stays
    reproducible from the twin the parity test above trusts."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tools import make_goldens

    monkeypatch.setattr(make_goldens, "GOLDEN_DIR", str(tmp_path))
    make_goldens.make_codekg_golden()
    name = "codekg_triples.parquet"
    got = pq.read_table(tmp_path / name).to_pylist()
    assert got == pq.read_table(os.path.join(entry._GOLDEN_DIR, name)).to_pylist()


def test_lsh_recall_holds_across_alias_lengths(spark):
    """Property gate (VERDICT r3 #10): LSH_THRESHOLD 0.5 with r=1/b=16
    banding is tuned for short import strings; a future dim change must
    not silently gut fuzzy recall as aliases grow. Plant 8 aliases per
    length 10..40, mutate one interior char each, and require >= 0.95
    recall (mutated -> canonical) at EVERY length. Single-char edit at
    length L gives char-3-gram jaccard ~ (L-3)/(L+3) > 0.5 for L >= 10,
    and 16 r=1 bands catch j >= 0.5 with P ~ 1-2^-16 -- so a miss here
    means the machinery regressed, not the math.

    The whole map (canonical and score) must also equal the Python twin
    ``_lsh_best_match``, including on planted ties: two aliases at equal
    jaccard with different canonicals (the smaller canonical wins), and
    one canonical reached through two aliases."""
    import random
    import string

    from tools.make_goldens import _lsh_best_match

    rng = random.Random(5)
    dim_rows, probes = [], []
    for length in range(10, 41):
        for i in range(8):
            alias = "".join(rng.choice(string.ascii_lowercase) for _ in range(length))
            canonical = f"canon-{length}-{i}"
            dim_rows.append((alias, canonical))
            pos = rng.randrange(2, length - 2)
            sub = rng.choice([c for c in string.ascii_lowercase if c != alias[pos]])
            probes.append((alias[:pos] + sub + alias[pos + 1 :], canonical, length))
    ties = [
        ("quuxlib1", "zeta"), ("quuxlib2", "alpha"), ("barmodx", "bar"), ("barmody", "bar")
    ]
    tie_probes = ["quuxlib3", "barmodz"]
    dim_rows += ties
    dim = codekg.code_alias_dim(spark, dim_rows)
    values = spark.createDataFrame(
        [(v,) for v in [v for v, _c, _l in probes] + tie_probes], "value string"
    )
    got = {
        r["value"]: (r["lsh_canonical"], r["lsh_score"])
        for r in codekg.lsh_alias_map(values, dim).collect()
    }
    want = _lsh_best_match({v for v, _c, _l in probes} | set(tie_probes), dim_rows)
    assert got == want
    assert got["quuxlib3"] == ("alpha", 0.6) and got["barmodz"][0] == "bar"
    by_len: dict[int, list[bool]] = {}
    for v, c, length in probes:
        by_len.setdefault(length, []).append(got.get(v, (None,))[0] == c)
    for length, hits in sorted(by_len.items()):
        recall = sum(hits) / len(hits)
        assert recall >= 0.95, f"recall {recall:.2f} at alias length {length}"


def test_lsh_candidate_volume_linear_in_misses(spark):
    """Property gate (VERDICT r4 #8): the band join's candidate count
    stays ~LINEAR in |misses| against a 10k-row dim -- the evidence
    behind link_mentions' 'broadcast the lsh map, dimension-sized at
    any corpus scale' claim. Probe sets are nested prefixes (250 ⊂ 500
    ⊂ 1000 mixed mutated-alias + garbage values), so candidates-per-
    miss must hold roughly constant as |misses| quadruples; a
    super-linear blowup here would mean band buckets degenerate."""
    import random
    import string

    from pyspark.sql import functions as F

    rng = random.Random(11)

    def word(n=12):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    dim_rows = [(word(), f"c{i}") for i in range(10_000)]
    probes = []
    for i in range(1000):
        if i % 2 == 0:
            alias = dim_rows[rng.randrange(len(dim_rows))][0]
            pos = rng.randrange(2, len(alias) - 2)
            sub = rng.choice([c for c in string.ascii_lowercase if c != alias[pos]])
            probes.append(alias[:pos] + sub + alias[pos + 1 :])
        else:
            probes.append(word())
    dg = spark.createDataFrame(dim_rows, "alias string, canonical string").withColumn(
        "grams", codekg.char_ngrams_col(F.col("alias"))
    )
    per_miss = {}
    for m in (250, 500, 1000):
        vg = spark.createDataFrame(
            [(v,) for v in probes[:m]], "value string"
        ).withColumn("grams", codekg.char_ngrams_col(F.col("value")))
        # a candidate is a distinct (value, alias) pair: the band join
        # emits a pair once per band the two agree on
        cands = codekg._lsh_band_candidates(vg, dg)
        n_cand = cands.select("value", "alias").distinct().count()
        per_miss[m] = n_cand / m
    # bounded per-miss fanout, and no super-linear growth across a 4x
    # miss-set scale-up (ratio of per-miss rates stays near 1)
    assert all(r <= 64 for r in per_miss.values()), per_miss
    assert per_miss[1000] <= 2.0 * per_miss[250] + 1, per_miss


def test_entity_cooccurrence_cap_bounds_mega_doc(spark):
    """VERDICT r3 #4: a planted imports-everything doc (500 distinct
    imports) must emit at most C(cap, 2) pairs, the truncation report
    must surface it (no silent caps), and uncapped docs are unaffected."""
    mega = [("mega", "imports", f"mod{i:04d}") for i in range(500)]
    small = [("small", "imports", m) for m in ("a", "b", "c")]
    triples = spark.createDataFrame(
        mega + small, "doc_id string, pred string, obj string"
    )
    cap = 50
    pairs = codekg.entity_cooccurrence(triples, max_per_doc=cap)
    n_pairs = pairs.count()
    assert n_pairs == cap * (cap - 1) // 2 + 3  # capped mega + full small
    small_pairs = {
        (r["src"], r["dst"])
        for r in pairs.filter(F.col("src").isin("a", "b")).collect()
    }
    assert small_pairs == {("a", "b"), ("a", "c"), ("b", "c")}
    report = codekg.cooccurrence_truncation_report(triples, max_per_doc=cap).collect()
    assert [(r["doc_id"], r["n_entities"]) for r in report] == [("mega", 500)]
    # cap disabled (0) -> nothing is truncated -> empty report, and the
    # edge count goes fully quadratic on the mega doc
    assert codekg.cooccurrence_truncation_report(triples, max_per_doc=0).count() == 0
    assert (
        codekg.entity_cooccurrence(triples, max_per_doc=0).count()
        == 500 * 499 // 2 + 3
    )


def test_entity_cooccurrence_exact_tail_matches_uncapped(spark):
    """VERDICT r4 #7: exact_tail=True routes a planted 2k-import doc
    through the isolated tail branch and yields EXACTLY the uncapped
    pair counts -- n_docs is never bounded-wrong -- while shared pairs
    across branches still sum correctly."""
    mega = [("mega", "imports", f"mod{i:04d}") for i in range(2000)]
    # overlap: a/b also appear in the mega doc -> the (a, b)-style edges
    # must sum across the head and tail branches
    small = [("small", "imports", m) for m in ("mod0000", "mod0001", "zzz")]
    tiny = [("tiny", "imports", m) for m in ("mod0000", "mod0001")]
    triples = spark.createDataFrame(
        mega + small + tiny, "doc_id string, pred string, obj string"
    )
    want = {
        (r["src"], r["dst"]): r["n_docs"]
        for r in codekg.entity_cooccurrence(triples, max_per_doc=0).collect()
    }
    got = {
        (r["src"], r["dst"]): r["n_docs"]
        for r in codekg.entity_cooccurrence(
            triples, max_per_doc=64, exact_tail=True
        ).collect()
    }
    assert got == want
    assert got[("mod0000", "mod0001")] == 3  # mega + small + tiny
    # whereas the plain cap undercounts that edge (mega truncated away)
    capped = {
        (r["src"], r["dst"]): r["n_docs"]
        for r in codekg.entity_cooccurrence(triples, max_per_doc=2).collect()
    }
    assert capped[("mod0000", "mod0001")] == 3  # first-2-by-obj keeps these
    assert len(capped) < len(want)


def test_empty_content_doc_does_not_abort(spark, tmp_path):
    """ADVICE r1 (high): a doc with zero extractable mentions (empty or
    comment-only content) is dropped by the mentions explode; the sha
    invariant must treat that as a legitimate subset, not corruption."""
    rows = [
        ("o/r", "empty.py", "c" * 40, "python", ""),
        ("o/r", "comment.py", "d" * 40, "python", None),
        ("o/r", "real.py", "e" * 40, "python", "import numpy\ndef load_data(x):\n    return x"),
    ]
    df = spark.createDataFrame(rows, REPOS_SRC)
    m = run_codekg_pipeline(spark, df, str(tmp_path / "w"))
    assert m["triples"] > 0
    assert m["stages"]["mentions"]["sha_invariant_ok"] is True
    store = StageStore(str(tmp_path / "w"))
    assert store.read(spark, "mentions").select("doc_id").distinct().count() == 1
    assert store.record()["input_docs"] == 3


def test_avaluo_pipeline_gate_and_invariant(spark, tmp_path):
    """S1 page gate (>50 chars) + per-stage sha invariant on the avaluo
    path (reference: extractorAvaluos.py:18-29)."""
    from structured_data_entity_extraction_spark.pipeline import (
        length_gate,
        run_avaluo_pipeline,
    )
    from structured_data_entity_extraction_spark.schemas import AVALUO_DOCS

    rows = [
        ("d1", ""),  # gated out
        ("d2", "  corto  "),  # gated out (<=50 after trim)
        ("d3", "AVALÚO COMERCIAL folio 1234 " + "relleno " * 20 + "VALOR CONCLUIDO $1,234,567.89"),
    ]
    docs = spark.createDataFrame(rows, AVALUO_DOCS)
    assert length_gate(docs).count() == 1
    m = run_avaluo_pipeline(spark, docs, str(tmp_path / "w"), min_page_chars=50)
    assert m["records"] == 1
    assert m["triples"] == 13
    for stage in ("records", "triples"):
        assert m["stages"][stage]["sha_invariant_ok"] is True


def test_stagestore_iceberg_routing(spark, tmp_path):
    """Flag off (default): parquet path, iceberg_table null in manifest.
    Flag on: the write routes through DataFrameWriterV2.writeTo against
    the named catalog -- in this catalog-less sandbox that must surface
    as a catalog-resolution error naming OUR catalog, proving the
    Iceberg code path is actually taken."""
    rows = [("o/r", "a.py", "c" * 40, "python", "import numpy")]
    df = spark.createDataFrame(rows, REPOS_SRC)

    store = StageStore(str(tmp_path / "w"), run_id="r1")
    store.write(df, "mentions")
    assert store.manifest("mentions")["iceberg_table"] is None

    ice = StageStore(str(tmp_path / "w2"), run_id="r1", iceberg_catalog="prodcat")
    assert ice.iceberg_ident("mentions") == "prodcat.structured_data_entity_extraction.mentions"
    with pytest.raises(Exception, match="prodcat"):
        ice.write(df, "mentions")
