"""End-to-end pipeline: P/R gate, per-turn invariant, resume semantics,
determinism (BASELINE.md target table)."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from kgforge.fixtures import ensure_fixtures
from kgforge.pipeline import Pipeline

STAGES = ["reassemble", "extract", "canonicalize", "dicts", "link", "materialize"]


@pytest.fixture(scope="module")
def run_dir(spark, tmp_path_factory):
    fdir = ensure_fixtures("sf0.001")
    work = str(tmp_path_factory.mktemp("pipe"))
    pipe = Pipeline(
        spark,
        input_path=os.path.join(fdir, "transcripts.parquet"),
        work_dir=work,
        gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
        patterns_path=os.path.join(fdir, "patterns.parquet"),
        out_partitions=4,
        bucket_table="kg_triples_e2e",
        export_ntriples=True,
    )
    pipe.run(STAGES)
    return work, fdir, pipe


def _read_triples_txt(path):
    lines = open(path).read().splitlines()
    n = int(lines[0])
    rows = [tuple(map(int, line.split(" "))) for line in lines[1:]]
    assert len(rows) == n
    return rows


def test_pr_gate_vs_golden(spark, run_dir):
    """North-rule gate: emitted (s,p,o) P/R >= 0.95 vs generator intent."""
    work, fdir, _ = run_dir
    exp = os.path.join(work, "materialize", "openke")
    e2id = {}
    for line in open(os.path.join(exp, "entity2id.txt")).read().splitlines()[1:]:
        name, i = line.split("\t")
        e2id[name] = int(i)
    r2id = {}
    for line in open(os.path.join(exp, "relation2id.txt")).read().splitlines()[1:]:
        name, i = line.split("\t")
        r2id[name] = int(i)
    golden = pd.read_parquet(os.path.join(fdir, "golden_triples.parquet"))
    want = {
        (e2id[s], r2id[p], e2id[o])
        for s, p, o in golden[["subj_canon", "pred", "obj_canon"]]
        .drop_duplicates()
        .itertuples(index=False)
    }
    got = {(h, r, t) for h, t, r in _read_triples_txt(os.path.join(exp, "train2id.txt"))}
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_per_turn_invariant(spark, run_dir):
    """100% per-turn text equality under stable ordering (input_hint)."""
    work, fdir, _ = run_dir
    got = (
        spark.read.parquet(os.path.join(work, "reassemble"))
        .select("conv_id", "turn_idx", "turn_rank", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = (
        pd.read_parquet(os.path.join(fdir, "transcripts.parquet"))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(src)
    assert (got["text"].to_numpy() == src["text"].to_numpy()).all()
    assert (got["turn_rank"] == got["turn_idx"] + 1).all()


def test_resume_skips_done_and_recomputes_invalidated(spark, run_dir):
    work, fdir, pipe = run_dir
    # resume run: everything skipped
    pipe2 = Pipeline(
        spark,
        input_path=os.path.join(fdir, "transcripts.parquet"),
        work_dir=work,
        gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
        patterns_path=os.path.join(fdir, "patterns.parquet"),
        out_partitions=4,
        resume=True,
        bucket_table="kg_triples_e2e",
        export_ntriples=True,  # must match run_dir's config (cfg fingerprint)
    )
    pipe2.run(STAGES)
    assert all(v == 0.0 for v in pipe2.timings.values()), pipe2.timings

    # interrupt simulation: drop the link stage manifest -> only link and
    # downstream recompute; output equal to the uninterrupted run
    before = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(work, "materialize", "triples"))
            .toPandas()[["s", "p", "o", "part"]]  # incl. salted partition:
            .itertuples(index=False),             # resume must reproduce layout
        )
    )
    pipe2.manifest.invalidate("link")
    pipe3 = Pipeline(
        spark,
        input_path=os.path.join(fdir, "transcripts.parquet"),
        work_dir=work,
        gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
        patterns_path=os.path.join(fdir, "patterns.parquet"),
        out_partitions=4,
        resume=True,
        bucket_table="kg_triples_e2e",
        export_ntriples=True,  # must match run_dir's config (cfg fingerprint)
    )
    pipe3.run(STAGES)
    assert pipe3.timings["reassemble"] == 0.0
    assert pipe3.timings["extract"] == 0.0
    assert pipe3.timings["link"] > 0.0
    after = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(work, "materialize", "triples"))
            .toPandas()[["s", "p", "o", "part"]]
            .itertuples(index=False),
        )
    )
    assert before == after  # data AND partition layout byte-identical


def test_evaluate_gate_scores_constructed_kg(spark, run_dir):
    """B12: eval_metrics.json must reflect the pipeline's OWN KG — a
    content-hash test bucket of the materialized triples, not a synthetic
    fixture split."""
    work, fdir, pipe = run_dir
    pipe.run(["evaluate"])
    metrics = json.load(open(os.path.join(work, "eval_metrics.json")))
    assert metrics["n_gate_triples"] > 0
    n_mat = pipe.manifest.get("materialize")["row_count"]
    # gate bucket is ~10% of materialized triples (capped at 500)
    assert metrics["n_gate_triples"] <= min(500, n_mat)
    for k in ("mrr_filt", "hits10_filt", "mr_raw"):
        assert metrics[k] == metrics[k] and metrics[k] > 0  # finite, nonzero


def test_lineage_counters_recorded(run_dir):
    work, _, pipe = run_dir
    entry = pipe.manifest.get("materialize")
    assert entry["row_count"] > 0
    assert entry["extra"]["lineage"]["row_count"] == entry["row_count"]


def test_dict_sizes_recorded(run_dir):
    """The dicts entry carries the dictionary sizes its writes counted."""
    work, _, pipe = run_dir
    extra = pipe.manifest.get("dicts")["extra"]
    exp = os.path.join(work, "materialize", "openke")
    for key, name in (("n_entities", "entity2id"), ("n_relations", "relation2id")):
        lines = open(os.path.join(exp, f"{name}.txt")).read().splitlines()
        assert extra[key] == int(lines[0]) == len(lines) - 1 > 0


#: Spark jobs per stage of a warm unit-fixture build. A budget may only go
#: down: lower it deliberately when a change saves jobs.
STAGE_JOB_BUDGET = {
    "reassemble": 2,
    "extract": 2,
    "canonicalize": 6,
    "dicts": 2,
    "link": 5,
    "materialize": 5,
    "evaluate": 4,
}


def _unit_pipeline(spark, fdir, work, gazetteer_path=None, resume=False):
    return Pipeline(
        spark,
        input_path=os.path.join(fdir, "transcripts.parquet"),
        work_dir=work,
        gazetteer_path=gazetteer_path or os.path.join(fdir, "gazetteer.parquet"),
        patterns_path=os.path.join(fdir, "patterns.parquet"),
        out_partitions=2,
        resume=resume,
    )


def _rows(path):
    """Sorted row reprs of a Parquet output (row-identical comparisons)."""
    return sorted(map(repr, pd.read_parquet(path).astype(str).itertuples(index=False)))


@pytest.fixture(scope="module")
def unit_build(spark, jobs_in_group, tmp_path_factory):
    """A unit-fixture build after a warm-up build, each stage run under its
    own job group: ``(work_dir, fixture_dir, jobs per stage)``."""
    fdir = ensure_fixtures("unit")

    def pipeline(work):
        return _unit_pipeline(spark, fdir, work)

    stages = [*STAGES, "evaluate"]
    pipeline(str(tmp_path_factory.mktemp("unit_warm"))).run(stages)
    work = str(tmp_path_factory.mktemp("unit_build"))
    pipe = pipeline(work)
    jobs = {
        s: jobs_in_group(f"stage_budget_{s}", lambda s=s: pipe.run([s]))[0]
        for s in stages
    }
    return work, fdir, jobs


def test_pipeline_stage_job_budget(unit_build):
    """Spark jobs per stage are pinned exactly. At dictionary scale the
    stages' cost is job scheduling, so a schema-inferring read, a count
    after a write or a read-back that a change adds shows here even when
    every output stays identical."""
    _, _, jobs = unit_build
    assert jobs == STAGE_JOB_BUDGET, jobs


def test_read_parquet_footer_schema(spark, jobs_in_group, unit_build, tmp_path):
    """session.read_parquet returns what schema inference returns — schema,
    hive partition columns and rows — and schedules no job for a
    Spark-written output or a pandas-written input; a column type whose
    mapping is not known to match inference falls back to inference."""
    from kgforge.session import read_parquet

    work, fdir, _ = unit_build

    def same_as_inferred(path):
        n, df = jobs_in_group(f"read_parquet:{path}", lambda: read_parquet(spark, path))
        want = spark.read.parquet(path)
        assert df.schema == want.schema, path
        assert sorted(map(repr, df.collect())) == sorted(map(repr, want.collect())), path
        return n, df

    outputs = [
        "reassemble", "extract/triples", "canonicalize/alias_map", "dicts",
        "dicts/kind=entity", "dicts/kind=relation", "link", "materialize/triples",
        "embeddings/components", "embeddings/components/component=ent",
    ]
    schemas = {}
    for out in outputs:
        n, df = same_as_inferred(os.path.join(work, out))
        assert n == 0, out
        schemas[out] = df.schema
    # the hive partition columns are still discovered from the directories
    assert schemas["materialize/triples"]["part"].dataType.simpleString() == "int"
    assert schemas["dicts"]["kind"].dataType.simpleString() == "string"

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "a long, b array<string>").write.parquet(empty)
    n, df = same_as_inferred(empty)
    assert n == 0 and df.schema.simpleString() == "struct<a:bigint,b:array<string>>"

    # pandas-written inputs: no Spark schema entry, the Arrow footer
    # schema maps to what inference gives (tz-naive ts → timestamp_ntz)
    for name in ("transcripts", "patterns", "gazetteer"):
        n, df = same_as_inferred(os.path.join(fdir, f"{name}.parquet"))
        assert n == 0, name
        schemas[name] = df.schema
    assert schemas["transcripts"]["ts"].dataType.simpleString() == "timestamp_ntz"

    # an unsigned column keeps the inference fallback
    odd = str(tmp_path / "uint.parquet")
    pd.DataFrame({"u": np.array([1, 2], dtype="uint32")}).to_parquet(odd)
    n, _ = same_as_inferred(odd)
    assert n == 1


def test_canonicalize_distributed_branch_matches_driver(spark, unit_build, tmp_path, monkeypatch):
    """Above ``_DRIVER_NAMES`` names canonicalize runs the distributed
    alias_pairs → connected_components chain; it writes the same
    alias_map as the driver branch the unit build took."""
    from kgforge import pipeline as pl

    work, fdir, _ = unit_build
    other = str(tmp_path / "distributed")
    shutil.copytree(os.path.join(work, "extract"), os.path.join(other, "extract"))
    monkeypatch.setattr(pl, "_DRIVER_NAMES", 0)
    _unit_pipeline(spark, fdir, other).run(["canonicalize"])
    got = _rows(os.path.join(other, "canonicalize", "alias_map"))
    assert got == _rows(os.path.join(work, "canonicalize", "alias_map"))


def test_conflicting_gazetteer_surface_maps_to_min_canonical(spark, unit_build, tmp_path):
    """A surface the gazetteer lists under two canonicals is known as the
    min one, whatever the gazetteer's row order and file partitioning."""
    work, fdir, _ = unit_build
    gaz = pd.read_parquet(os.path.join(fdir, "gazetteer.parquet"))
    surface, canonical = gaz.iloc[0][["surface", "canonical"]]
    extra = gaz.iloc[[0, 0]].assign(canonical=["~" + canonical, "!" + canonical])
    conflicted = pd.concat([gaz, extra], ignore_index=True)
    one_file = str(tmp_path / "gaz.parquet")
    conflicted.to_parquet(one_file)
    three_files = str(tmp_path / "gaz_reversed")
    spark.createDataFrame(conflicted.iloc[::-1]).repartition(3).write.parquet(three_files)
    amaps = []
    for i, gaz_path in enumerate((one_file, three_files)):
        w = str(tmp_path / f"work{i}")
        shutil.copytree(os.path.join(work, "extract"), os.path.join(w, "extract"))
        _unit_pipeline(spark, fdir, w, gazetteer_path=gaz_path).run(["canonicalize"])
        am = pd.read_parquet(os.path.join(w, "canonicalize", "alias_map"))
        amaps.append(dict(am[["surface", "canonical"]].itertuples(index=False)))
    assert amaps[0] == amaps[1]
    assert amaps[0][surface] == "!" + canonical


def _outputs(work):
    """The unit build's outputs: row sets of the Parquet ones, bytes of the
    files."""
    got = {
        rel: _rows(os.path.join(work, rel))
        for rel in (
            "canonicalize/alias_map", "dicts/kind=entity", "dicts/kind=relation",
            "materialize/triples",
        )
    }
    for rel in ("materialize/openke/train2id.txt", "eval_metrics.json"):
        with open(os.path.join(work, rel), "rb") as f:
            got[rel] = f.read()
    return got


def _resume_reruns(spark, fdir, work):
    """Stages a ``--resume`` build of the unit work dir runs again."""
    pipe = _unit_pipeline(spark, fdir, work, resume=True)
    pipe.run([*STAGES, "evaluate"])
    return {s for s, t in pipe.timings.items() if t > 0.0}


def test_resume_reruns_stage_whose_output_is_gone(spark, unit_build):
    """--resume trusts a manifest entry only while the stage's outputs are
    still committed: a deleted output, an output without ``_SUCCESS`` or a
    missing eval_metrics.json re-runs the stage (and what depends on it),
    with outputs equal to the first build's."""
    work, fdir, _ = unit_build
    stages = [*STAGES, "evaluate"]

    def resume(remove):
        if os.path.isfile(remove):
            os.remove(remove)
        else:
            shutil.rmtree(remove)
        return _resume_reruns(spark, fdir, work)

    before = _outputs(work)
    assert resume(os.path.join(work, "canonicalize", "alias_map")) == set(stages[2:])
    assert _outputs(work) == before
    assert resume(os.path.join(work, "link", "_SUCCESS")) == set(stages[4:])
    assert _outputs(work) == before
    assert resume(os.path.join(work, "eval_metrics.json")) == {"evaluate"}
    assert _outputs(work) == before


def test_resume_reruns_stage_whose_output_was_tampered(spark, unit_build):
    """A committed output changed after its commit no longer matches the
    output fingerprint in the stage's manifest entry: a truncated part file
    of ``materialize/triples`` that keeps ``_SUCCESS`` re-runs materialize
    (and evaluate, which reads it), with outputs equal to the first
    build's."""
    import glob

    work, fdir, _ = unit_build
    before = _outputs(work)
    tri = os.path.join(work, "materialize", "triples")
    part = sorted(glob.glob(os.path.join(tri, "part=*", "*.parquet")))[0]
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    assert os.path.isfile(os.path.join(tri, "_SUCCESS"))
    assert _resume_reruns(spark, fdir, work) == {"materialize", "evaluate"}
    assert _outputs(work) == before


def test_resume_reruns_stage_that_failed_before_its_commit(spark, unit_build, monkeypatch):
    """A stage that raises between its write and its manifest commit
    leaves the previous entry behind, whose input fingerprint still
    matches but whose output fingerprint no longer does: --resume re-runs
    that stage and what reads it, with outputs equal to the first
    build's."""
    from kgforge.manifest import Manifest

    work, fdir, _ = unit_build
    before = _outputs(work)
    commit = Manifest.commit

    def fail_dicts(self, stage, *args, **kwargs):
        if stage == "dicts":
            raise RuntimeError("killed between the write and the commit")
        return commit(self, stage, *args, **kwargs)

    monkeypatch.setattr(Manifest, "commit", fail_dicts)
    with pytest.raises(RuntimeError, match="killed"):
        _unit_pipeline(spark, fdir, work).run(["dicts"])
    monkeypatch.setattr(Manifest, "commit", commit)
    assert _resume_reruns(spark, fdir, work) == {"dicts", "link", "materialize", "evaluate"}
    assert _outputs(work) == before


def test_empty_patterns_table_raises_before_any_job(spark, jobs_in_group, tmp_path):
    """A patterns table cut to 0 rows (written by pandas, so ``pred`` is
    Arrow ``null``) raises a ValueError naming its path, and no Spark job
    runs: the dicts stage used to fail on a BIGINT cast of entity names."""
    fdir = ensure_fixtures("unit")
    pats = str(tmp_path / "patterns.parquet")
    pd.read_parquet(os.path.join(fdir, "patterns.parquet")).head(0).to_parquet(pats)
    pipe = Pipeline(
        spark,
        input_path=os.path.join(fdir, "transcripts.parquet"),
        work_dir=str(tmp_path / "work"),
        gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
        patterns_path=pats,
    )

    def run():
        with pytest.raises(ValueError) as err:
            pipe.run()
        return str(err.value)

    jobs, msg = jobs_in_group("empty_patterns", run)
    assert pats in msg and jobs == 0


def test_entry_and_contract_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"relation", "n_triples", "n_subjects"}
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_bucketed_fact_table_zero_exchange(spark, run_dir):
    """The pipeline's bucket_table output: row-set identical to the
    parquet fact table, and the subject-degree consumer's physical plan
    contains NO Exchange (the write-time bucketing replaces the per-query
    shuffle) while the same query over plain parquet does shuffle."""
    from pyspark.sql import functions as F

    def out_degrees(triples):
        return triples.groupBy("s").agg(F.count(F.lit(1)).alias("out_degree"))

    work, _fdir, _pipe = run_dir
    tbl = spark.table("kg_triples_e2e")
    parq = spark.read.parquet(os.path.join(work, "materialize", "triples")).select(
        "s", "p", "o"
    )
    assert sorted(map(tuple, tbl.collect())) == sorted(map(tuple, parq.collect()))
    plan = out_degrees(tbl)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    plan2 = out_degrees(parq)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2
    assert out_degrees(tbl).count() == out_degrees(parq).count()


def test_canonicalize_recovers_unseen_aliases(spark, run_dir):
    """The point of B7/B8: hyphen-corrupted alias variants (absent from
    the gazetteer) are linkable ONLY via the LSH+CC alias map —
    dictionary-only linking provably loses that recall."""
    work, fdir, _ = run_dir
    golden = pd.read_parquet(os.path.join(fdir, "golden_triples.parquet"))
    corrupted = golden[
        golden["subj"].str.contains("-") | golden["obj"].str.contains("-")
    ]
    assert len(corrupted) > 0, "fixture must contain unseen alias variants"

    alias_map = spark.read.parquet(os.path.join(work, "canonicalize", "alias_map")).toPandas()
    amap = dict(zip(alias_map["surface"], alias_map["canonical"]))
    gaz = pd.read_parquet(os.path.join(fdir, "gazetteer.parquet"))
    gmap = dict(zip(gaz["surface"], gaz["canonical"]))

    hyph_surfaces = set(corrupted["subj"][corrupted["subj"].str.contains("-")]) | set(
        corrupted["obj"][corrupted["obj"].str.contains("-")]
    )
    cc_hits = sum(1 for s in hyph_surfaces if amap.get(s) is not None and "-" not in amap[s])
    dict_hits = sum(1 for s in hyph_surfaces if s in gmap)
    assert dict_hits == 0, "corrupted variants must NOT be in the dictionary"
    assert cc_hits / len(hyph_surfaces) >= 0.95, (
        f"CC linked only {cc_hits}/{len(hyph_surfaces)} unseen aliases"
    )
    # and they resolve to the RIGHT canonical
    want = {}
    for _, row in corrupted.iterrows():
        if "-" in row["subj"]:
            want[row["subj"]] = row["subj_canon"]
        if "-" in row["obj"]:
            want[row["obj"]] = row["obj_canon"]
    wrong = {s: (amap.get(s), c) for s, c in want.items() if amap.get(s) != c}
    assert not wrong, f"mis-canonicalized: {dict(list(wrong.items())[:3])}"


def test_ntriples_export_matches_fact_table(spark, run_dir):
    """--export-ntriples: the W3C interchange copy written by
    materialize parses back to exactly the canonical STRING triples —
    the id fact table mapped through entity2id/relation2id — with no
    encode/decode loss."""
    from kgforge.io_rdf import read_ntriples

    work, _fdir, _pipe = run_dir
    exp = os.path.join(work, "materialize", "openke")
    e2id, r2id = {}, {}
    for line in open(os.path.join(exp, "entity2id.txt")).read().splitlines()[1:]:
        name, i = line.rsplit("\t", 1)
        e2id[int(i)] = name
    for line in open(os.path.join(exp, "relation2id.txt")).read().splitlines()[1:]:
        name, i = line.rsplit("\t", 1)
        r2id[int(i)] = name
    fact = spark.read.parquet(os.path.join(work, "materialize", "triples"))
    expected = sorted(
        (e2id[r.s], r2id[r.p], e2id[r.o])
        for r in fact.select("s", "p", "o").collect()
    )
    back = read_ntriples(spark, os.path.join(exp, "ntriples"))
    assert sorted(map(tuple, back.collect())) == expected
