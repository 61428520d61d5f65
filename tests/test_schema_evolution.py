"""Schema evolution: add-column with default, schema-pinned snapshots,
mixed-schema compaction and MERGE (reference ``SchemaEvolution``,
libs/hoopstat-data/hoopstat_data/silver_models.py:353)."""

import os

import pytest
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import CompactionPolicy, TokenLakeTable
from hoopstat_haus_spark.lakehouse.merge import merge_into
from hoopstat_haus_spark.tables import synthetic, token_sig

MB = 1024 * 1024
POLICY = CompactionPolicy(min_file_bytes=1 * MB, target_file_bytes=2 * MB, max_file_bytes=8 * MB)

LANG = {"name": "lang", "type": "string", "default": "und"}


def make_evolved_table(spark, path) -> TokenLakeTable:
    t = TokenLakeTable.create(spark, path, synthetic(spark, 3000), repartition_n=4)
    t.evolve_schema([LANG])
    batch2 = (
        synthetic(spark, 1000)
        .withColumn("doc_id", F.concat(F.lit("new-"), F.col("doc_id")))
        .withColumn("lang", F.when(F.xxhash64("doc_id") % 2 == 0, "en").otherwise("fr"))
    )
    t.append(batch2, repartition_n=2)
    return t


def test_old_rows_read_default_new_rows_carry_values(spark, tmp_table_dir):
    t = make_evolved_table(spark, tmp_table_dir)
    df = t.scan()
    assert "lang" in df.columns
    old = df.filter(~F.col("doc_id").startswith("new-"))
    new = df.filter(F.col("doc_id").startswith("new-"))
    assert old.filter(F.col("lang") != "und").count() == 0
    assert new.filter(~F.col("lang").isin("en", "fr")).count() == 0
    assert new.count() == 1000


def test_pinned_pre_evolution_snapshot_has_old_schema(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=2)
    pre = t.log.current_id()
    t.evolve_schema([LANG])
    assert "lang" not in t.scan(snapshot_id=pre).columns
    assert "lang" in t.scan().columns
    # evolution is metadata-only: same manifest, same data
    assert t.scan(snapshot_id=pre).count() == t.scan().count() == 2000


def test_compaction_preserves_evolved_column_on_mixed_files(spark, tmp_table_dir):
    t = make_evolved_table(spark, tmp_table_dir)
    pre = sorted(
        tuple(r)
        for r in t.scan().select("doc_id", token_sig(F.col("tokens")).alias("s"), "lang").collect()
    )
    t.compact(POLICY)
    post = sorted(
        tuple(r)
        for r in t.scan().select("doc_id", token_sig(F.col("tokens")).alias("s"), "lang").collect()
    )
    # defaults are materialized by the rewrite; on read they are
    # indistinguishable from the pre-compaction default-on-read rows
    assert pre == post


def test_merge_keeps_target_lang_when_update_lacks_it(spark, tmp_table_dir):
    t = make_evolved_table(spark, tmp_table_dir)
    victim = t.scan().filter(F.col("lang") == "en").limit(1).collect()[0]
    upd = t.spark.createDataFrame(
        [(victim["doc_id"], [1, 2, 3], 3, victim["source"])],
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    merge_into(t, upd)
    row = t.scan().filter(F.col("doc_id") == victim["doc_id"]).collect()[0]
    assert row["tokens"] == [1, 2, 3]
    assert row["lang"] == "en"  # untouched evolved column survives


def test_merge_updates_lang_when_present_and_inserts_get_default(spark, tmp_table_dir):
    t = make_evolved_table(spark, tmp_table_dir)
    victim = t.scan().limit(1).collect()[0]
    upd = t.spark.createDataFrame(
        [
            (victim["doc_id"], victim["tokens"], victim["n_tok"], victim["source"], "de"),
            ("brand-new-doc", [7, 8], 2, victim["source"], None),
        ],
        schema="doc_id string, tokens array<int>, n_tok int, source string, lang string",
    )
    merge_into(t, upd)
    got = {r["doc_id"]: r["lang"] for r in t.scan().filter(
        F.col("doc_id").isin(victim["doc_id"], "brand-new-doc")).collect()}
    assert got[victim["doc_id"]] == "de"
    assert got["brand-new-doc"] == "und"  # insert without value → default


def test_evolution_validation(spark, tmp_table_dir):
    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 500), repartition_n=2)
    with pytest.raises(ValueError, match="already exists"):
        t.evolve_schema([{"name": "n_tok", "type": "int"}])
    with pytest.raises(ValueError, match="invalid column name"):
        t.evolve_schema([{"name": "bad-name", "type": "int"}])
    t.evolve_schema([LANG])
    with pytest.raises(ValueError, match="missing key column"):
        t.schema_def().conform(t.spark.range(1).select(F.lit("x").alias("doc_id")))


def test_lost_commit_race_rolls_back_schema_file(spark, tmp_table_dir):
    """If the schema-vK file is written but the snapshot commit loses the
    optimistic-concurrency race, the orphan file must be removed: the max
    version on disk would otherwise become the live schema with no
    committed snapshot stamping it, and a retry would die on the
    exclusive create ('already exists')."""
    from hoopstat_haus_spark.lakehouse.snapshots import ConcurrentCommitError

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 500), repartition_n=2)
    v_before = t.schema_def().version
    head = t.log.current()
    # simulate a concurrent writer landing a snapshot between our plan
    # and our commit: commit once against the real head, then replay a
    # commit against the stale expected_parent inside evolve_schema
    real_commit = t.log.commit

    def racing_commit(*args, **kwargs):
        kwargs["expected_parent"] = head.snapshot_id - 1  # stale
        return real_commit(*args, **kwargs)

    t.log.commit = racing_commit
    with pytest.raises(ConcurrentCommitError):
        t.evolve_schema([LANG])
    t.log.commit = real_commit

    assert t.schema_def().version == v_before  # orphan rolled back
    t.evolve_schema([LANG])  # retry succeeds (no 'already exists')
    assert t.schema_def().version == v_before + 1
    assert t.log.current().summary["schema_version"] == v_before + 1


@pytest.mark.parametrize("op", ["append", "compact", "publish"])
def test_commit_stamps_planning_schema(spark, tmp_table_dir, monkeypatch, op):
    """A commit stamps the schema its op planned against, never a version
    a concurrent ``evolve_schema`` has written but not committed. The
    evolve's window (schema-v2 on disk, no snapshot yet) is opened by a
    hook in the manifest update every commit runs; once the op has
    committed, the evolve loses the race and removes its file, as
    ``evolve_schema`` does — a snapshot stamped v2 would then be
    unreadable."""
    from hoopstat_haus_spark.lakehouse import manifest as mf
    from hoopstat_haus_spark.lakehouse.schema import evolved, write_schema
    from hoopstat_haus_spark.lakehouse.wap import publish_staged, stage_append

    t = TokenLakeTable.create(spark, tmp_table_dir, synthetic(spark, 2000), repartition_n=4)
    batch = synthetic(spark, 2300).filter("cast(substr(doc_id, 5) as long) >= 2000")
    if op == "publish":
        stage_append(t, batch, ref="r1")
    orphans = []
    real_update = mf.update_manifest

    def racing_update(*args, **kwargs):
        orphans.append(write_schema(t.path, evolved(t.schema_def(), [LANG])))
        return real_update(*args, **kwargs)

    monkeypatch.setattr(mf, "update_manifest", racing_update)
    if op == "append":
        snap = t.append(batch, repartition_n=2)
    elif op == "compact":
        snap, _metrics = t.compact(POLICY)
    else:
        snap = publish_staged(t, "r1")
    monkeypatch.setattr(mf, "update_manifest", real_update)
    assert len(orphans) == 1
    os.remove(orphans[0])  # the evolve lost the commit race

    assert snap.summary["schema_version"] == 1
    assert t.schema_def(snap.snapshot_id).version == 1
    assert t.scan(snapshot_id=snap.snapshot_id).count() == (2000 if op == "compact" else 2300)
