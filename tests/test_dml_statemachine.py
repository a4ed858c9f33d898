"""Randomized DML state machine: a seeded random walk of
append/delete(cow|mor)/update/merge/optimize/checkpoint/restore — plus
column-mapping DDL (enable + RENAME COLUMN) and shallow CLONEs — against
a pandas model of the table, with snapshot equality asserted after every
step and time-travel equality at the end. Clones taken mid-walk must
still equal their at-clone-time state after the source keeps mutating.

This is the cross-feature interaction net: e.g. MOR deletion vectors
surviving OPTIMIZE, RESTORE landing on a checkpoint-only prefix, merges
over DV'd files — sequences no single-feature test enumerates.
"""

import os
import random

import pandas as pd
import pytest

# slow tier (round-12): randomized walks / fuzz soaks — deselected by
# the default fast tier (see pytest.ini); the full tier runs them all
pytestmark = pytest.mark.slow

from conftest import assert_protocol_replay

from athena_delta_lake_spark import DeltaTable, write_delta
from athena_delta_lake_spark.delta.log import DeltaLog
from athena_delta_lake_spark.delta.writer import (
    alter_column_type,
    clone_table,
    enable_column_mapping,
    rename_column,
    write_checkpoint,
)


def _table_state(spark, path) -> list[tuple]:
    # positional select: stable across RENAME COLUMN (id, k, v/val order)
    df = DeltaTable(spark, path).to_df()
    return sorted(tuple(r) for r in df.select(*df.columns[:3]).collect())


def _last_op_metrics(path: str) -> dict:
    """operationMetrics of the LATEST commit's commitInfo (round-7 DML
    metrics parity: numSourceRows / numTargetRowsInserted/Updated/Deleted
    per Delta convention, asserted against the model's own delta)."""
    import json
    import os

    v = DeltaLog(path).latest_version()
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as f:
        for line in f:
            ci = json.loads(line).get("commitInfo")
            if ci is not None:
                return ci.get("operationMetrics") or {}
    return {}


def _model_state(model: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(r.id), int(r.k), float(r.v)) for r in model.itertuples(index=False)
    )


_SEEDS = [7, 23, 31, 45, 58, 66, 81, 99, 12, 37, 54, 73, 140, 141, 156, 163]
# out-of-suite soak lever: ADLS_DML_EXTRA_SEEDS="201,202,…" appends seeds
# (the extended 8-seed re-soak after op-list changes runs through this)
_SEEDS += [
    int(s)
    for s in os.environ.get("ADLS_DML_EXTRA_SEEDS", "").split(",")
    if s.strip()
]


@pytest.mark.parametrize("seed", _SEEDS)
def test_random_dml_walk_matches_model(spark, tmp_path, seed, plane):
    """Runs on BOTH planning planes (round-10 verdict #2): the light
    plane's ~10 routes (light scans, streamed truncate/overwrite, light
    CDF, light CLONE, …) were each proven in isolation but had never
    seen a randomized cross-feature interleaving. `plane == "light"`
    forces the threshold to 1 and checkpoints up front, so every step's
    planning, the per-step CDF apply-diff, and the final time-travel
    sweep all run through LightSnapshot."""
    rng = random.Random(seed)
    path = str(tmp_path / f"walk_{seed}")

    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = [(next_id + i, (next_id + i) % 5, float(next_id + i) * 1.5) for i in range(n)]
        next_id += n
        return rows

    vname = "v"
    vtype = "float"  # widened to double mid-walk by the "widen" op
    clones: list[tuple[str, list[tuple]]] = []
    rows = fresh_rows(80)
    model = pd.DataFrame(rows, columns=["id", "k", "v"])
    # even seeds run the walk over a CDF-enabled table: every DML commit
    # then writes spec cdc/_change_data files, and the apply-diff
    # assertion below checks them; odd seeds keep the derivation path
    cdf_mode = seed % 2 == 0
    write_delta(
        spark.createDataFrame(rows, "id long, k long, v float"),
        path,
        partition_by=["k"],
        configuration=(
            {"delta.enableChangeDataFeed": "true"} if cdf_mode else None
        ),
    )
    # row tracking ON for the whole walk: the round-3 defects were exactly
    # clone/restore/DSv2 interplay with row ids, so every op here runs
    # over a row-tracked table and uniqueness is asserted at the end
    from athena_delta_lake_spark.delta.writer import enable_row_tracking

    enable_row_tracking(path)
    # seeds % 4 == 0 start with COLUMN MAPPING already on, so those even
    # seeds soak CDF x column mapping together from step 0 (the round-5
    # interaction-bug class the round-6 advice flags)
    if seed % 4 == 0:
        enable_column_mapping(path)
    if plane == "light":
        from conftest import force_light_engaged

        force_light_engaged(path)
    # whether a merge WITH SCHEMA EVOLUTION has added the `extra` column
    # (appends/replace_where must then carry it; RESTORE rewinds it)
    has_extra = False
    # history: version -> (state, vname, vtype) so mid-walk RESTORE can
    # rewind the model AND the schema trackers
    history = {
        DeltaTable(spark, path).version(): (
            _model_state(model), vname, vtype, False,
        )
    }

    for step in range(16):
        op = rng.choice(
            [
                "append", "delete_cow", "delete_mor", "update", "update_mor",
                "merge", "merge_mor", "optimize", "checkpoint", "rename",
                "clone", "replace_where", "widen", "restore",
                "deep_of_shallow", "merge_evolve", "optimize_where",
                "reorg", "truncate", "merge_on", "merge_assign",
                "merge_by_source",
            ]
        )
        t = DeltaTable(spark, path)
        if op == "truncate":
            # remove-only commit: all rows gone, zero data I/O; with CDF
            # on, the apply-diff invariant below must see a pure-delete
            # change set derived from the removes
            from athena_delta_lake_spark.delta.dml import truncate_table

            truncate_table(path)
            model = model.iloc[0:0]
        elif op == "append":
            rows = fresh_rows(rng.randint(5, 25))
            schema_s = f"id long, k long, {vname} {vtype}"
            data = rows
            if has_extra:
                schema_s += ", extra double"
                data = [(*r, None) for r in rows]
            write_delta(
                spark.createDataFrame(data, schema_s),
                path,
                mode="append",
            )
            model = pd.concat(
                [model, pd.DataFrame(rows, columns=["id", "k", "v"])],
                ignore_index=True,
            )
        elif op in ("delete_cow", "delete_mor"):
            kk = rng.randint(0, 4)
            cut = rng.randint(0, next_id)
            t.delete(
                where=f"k = {kk} AND id < {cut}",
                mode="mor" if op == "delete_mor" else "cow",
            )
            model = model[~((model.k == kk) & (model.id < cut))]
        elif op in ("update", "update_mor"):
            kk = rng.randint(0, 4)
            t.update(
                {vname: f"{vname} + 100"},
                where=f"k = {kk}",
                mode="mor" if op == "update_mor" else "cow",
            )
            model = model.copy()
            model.loc[model.k == kk, "v"] += 100
        elif op in ("merge", "merge_mor"):
            lo = rng.randint(0, max(next_id - 10, 1))
            src_rows = [(i, i % 5, -1.0) for i in range(lo, lo + 15)]
            schema_s = f"id long, k long, {vname} {vtype}"
            if has_extra:
                schema_s += ", extra double"
                src_rows_w = [(*r, None) for r in src_rows]
            else:
                src_rows_w = src_rows
            src = spark.createDataFrame(src_rows_w, schema_s)
            t.merge(src, keys=["id"], mode="mor" if op == "merge_mor" else "cow")
            present = set(model.id)
            want_updated = int(model.id.isin({r[0] for r in src_rows}).sum())
            want_inserted = sum(1 for r in src_rows if r[0] not in present)
            m = _last_op_metrics(path)
            assert m.get("numSourceRows") == str(len(src_rows)), m
            assert m.get("numTargetRowsInserted") == str(want_inserted), m
            assert m.get("numTargetRowsUpdated") == str(want_updated), m
            assert m.get("numTargetRowsDeleted") in (None, "0"), m
            for i, k, v in src_rows:
                if i in present:
                    model.loc[model.id == i, ["k", "v"]] = [i % 5, v]
                else:
                    model = pd.concat(
                        [model, pd.DataFrame([(i, k, v)], columns=["id", "k", "v"])],
                        ignore_index=True,
                    )
            next_id = max(next_id, lo + 15)
        elif op == "merge_assign":
            # round-7 per-column UPDATE SET col = expr: assigned columns
            # mix t./s. expressions, unassigned keep the TARGET value —
            # over CDF/row-tracking/mapping state like every other op
            lo = rng.randint(0, max(next_id - 8, 1))
            src_rows = [(i, (i + 1) % 5, 7.0) for i in range(lo, lo + 10)]
            schema_s = f"id long, k long, {vname} {vtype}"
            if has_extra:
                schema_s += ", extra double"
                src_rows_w = [(*r, None) for r in src_rows]
            else:
                src_rows_w = src_rows
            t.merge(
                spark.createDataFrame(src_rows_w, schema_s),
                keys=["id"],
                matched_clauses=[
                    (None, "update", {vname: f"t.{vname} + s.{vname}"})
                ],
                when_not_matched="insert",
                mode=rng.choice(["cow", "mor"]),
            )
            present = set(model.id)
            for i, k, v in src_rows:
                if i in present:
                    # assigned: v += 7; unassigned k keeps TARGET value
                    model = model.copy()
                    model.loc[model.id == i, "v"] += v
                else:
                    model = pd.concat(
                        [
                            model,
                            pd.DataFrame([(i, k, v)], columns=["id", "k", "v"]),
                        ],
                        ignore_index=True,
                    )
            next_id = max(next_id, lo + 10)
        elif op == "merge_on":
            # round-7 arbitrary ON: renamed source key + TARGET-side
            # residual. True ON semantics — a source id whose target rows
            # all fail the residual INSERTS (possibly duplicating the id;
            # later plain merges then update every row of that id, which
            # the model mirrors via boolean-mask assignment).
            lo = rng.randint(0, max(next_id - 10, 1))
            thr = rng.randint(0, 200)
            src_rows = [(i, i % 5, -3.0) for i in range(lo, lo + 12)]
            schema_s = f"sid long, k long, {vname} {vtype}"
            if has_extra:
                schema_s += ", extra double"
                src_rows_w = [(*r, None) for r in src_rows]
            else:
                src_rows_w = src_rows
            t.merge(
                spark.createDataFrame(src_rows_w, schema_s),
                keys=["id"],
                source_keys=["sid"],
                on_condition=f"t.{vname} < {thr}",
                mode="cow",
            )
            for i, k, v in src_rows:
                hit = (model.id == i) & (model.v < thr)
                if hit.any():
                    model = model.copy()
                    model.loc[hit, ["k", "v"]] = [k, v]
                else:
                    model = pd.concat(
                        [
                            model,
                            pd.DataFrame([(i, k, v)], columns=["id", "k", "v"]),
                        ],
                        ignore_index=True,
                    )
            next_id = max(next_id, lo + 12)
        elif op == "merge_by_source":
            # round-9 WHEN NOT MATCHED BY SOURCE: conditional delete or
            # update of unmatched target rows (retention-merge shape),
            # over CDF/row-tracking/mapping state like every other op
            lo = rng.randint(0, max(next_id - 8, 1))
            src_rows = [(i, i % 5, -6.0) for i in range(lo, lo + 10)]
            schema_s = f"id long, k long, {vname} {vtype}"
            if has_extra:
                schema_s += ", extra double"
                src_rows_w = [(*r, None) for r in src_rows]
            else:
                src_rows_w = src_rows
            cut = rng.randint(0, next_id)
            action = rng.choice(["delete", "update"])
            kwargs = dict(
                keys=["id"],
                not_matched_by_source=action,
                not_matched_by_source_condition=f"t.id >= {cut}",
                mode=rng.choice(["cow", "mor"]),
            )
            if action == "update":
                kwargs["not_matched_by_source_assigns"] = {
                    vname: f"t.{vname} - 10"
                }
            t.merge(spark.createDataFrame(src_rows_w, schema_s), **kwargs)
            present = set(model.id)
            src_ids = {r[0] for r in src_rows}
            model = model.copy()
            # matched rows: source version wins (when_matched='update')
            for i, k, v in src_rows:
                if i in present:
                    model.loc[model.id == i, ["k", "v"]] = [k, v]
            # unmatched rows where the condition holds: by-source action
            unm = ~model.id.isin(sorted(src_ids)) & (model.id >= cut)
            if action == "delete":
                model = model[~unm]
            else:
                model.loc[unm, "v"] -= 10
            # unmatched source ids insert (when_not_matched='insert')
            for i, k, v in src_rows:
                if i not in present:
                    model = pd.concat(
                        [
                            model,
                            pd.DataFrame([(i, k, v)], columns=["id", "k", "v"]),
                        ],
                        ignore_index=True,
                    )
            next_id = max(next_id, lo + 10)
        elif op == "optimize":
            t.compact(target_file_size=1 << 30)
        elif op == "optimize_where":
            # scoped compaction: dataChange=false — state AND change feed
            # must be untouched (the apply-diff invariant below checks)
            t.compact(target_file_size=1 << 30, predicates=[("k", "=", rng.randint(0, 4))])
        elif op == "reorg":
            # REORG APPLY (PURGE): rewrites only DV'd files; also
            # dataChange=false and row-id-preserving
            from athena_delta_lake_spark.delta.dml import reorg_purge

            reorg_purge(spark, path)
        elif op == "merge_evolve":
            # MERGE WITH SCHEMA EVOLUTION: source carries a NEW column;
            # matched rows update, unmatched insert, schema gains `extra`
            lo = rng.randint(0, max(next_id - 5, 1))
            src_rows = [(i, i % 5, -2.0, float(i)) for i in range(lo, lo + 8)]
            src = spark.createDataFrame(
                src_rows, f"id long, k long, {vname} {vtype}, extra double"
            )
            t.merge(
                src, keys=["id"],
                mode=rng.choice(["cow", "mor"]),
                schema_evolution=True,
            )
            present = set(model.id)
            for i, k, v, _e in src_rows:
                if i in present:
                    model.loc[model.id == i, ["k", "v"]] = [i % 5, v]
                else:
                    model = pd.concat(
                        [model, pd.DataFrame([(i, k, v)], columns=["id", "k", "v"])],
                        ignore_index=True,
                    )
            next_id = max(next_id, lo + 8)
            has_extra = True
        elif op == "checkpoint":
            write_checkpoint(path, v2=rng.random() < 0.5)
        elif op == "rename":
            # metadata-only RENAME through column mapping, interleaved with
            # the DML ops above (which must stage PHYSICAL names afterwards)
            enable_column_mapping(path)
            new = "val" if vname == "v" else "v"
            rename_column(path, vname, new)
            vname = new
        elif op == "clone":
            cp = str(tmp_path / f"clone_{seed}_{step}")
            clone_table(path, cp)
            clones.append((cp, _model_state(model)))
        elif op == "deep_of_shallow":
            # round-3 defect class: deep clone OF a shallow clone must
            # rewrite the shallow's absolute add paths into copied bytes
            sh = str(tmp_path / f"sh_{seed}_{step}")
            dp = str(tmp_path / f"dp_{seed}_{step}")
            clone_table(path, sh)  # shallow
            clone_table(sh, dp, shallow=False)  # deep of shallow
            clones.append((sh, _model_state(model)))
            clones.append((dp, _model_state(model)))
        elif op == "restore":
            # mid-walk RESTORE to a random earlier version: model AND the
            # schema trackers (rename/widen) rewind with it
            target = rng.choice(sorted(history))
            DeltaTable(spark, path).restore(version=target)
            want_state, vname, vtype, has_extra = history[target]
            model = pd.DataFrame(want_state, columns=["id", "k", "v"])
        elif op == "replace_where":
            # partition-scoped selective overwrite: replace exactly k=kk
            kk = rng.randint(0, 4)
            nonlocal_rows = fresh_rows(rng.randint(3, 10))
            repl = [(i, kk, float(v)) for i, _k, v in nonlocal_rows]
            schema_s = f"id long, k long, {vname} {vtype}"
            data = repl
            if has_extra:
                schema_s += ", extra double"
                data = [(*r, None) for r in repl]
            write_delta(
                spark.createDataFrame(data, schema_s),
                path,
                mode="overwrite",
                replace_where=f"k = {kk}",
            )
            model = model[model.k != kk]
            model = pd.concat(
                [model, pd.DataFrame(repl, columns=["id", "k", "v"])],
                ignore_index=True,
            )
        elif op == "widen":
            # metadata-only type widening; later appends write the wide type
            if vtype == "float":
                alter_column_type(path, vname, "double")
                vtype = "double" 

        got = _table_state(spark, path)
        want = _model_state(model)
        assert got == want, f"divergence after step {step} op {op} (seed {seed})"
        # protocol-keyed replay: no path live twice under two DVs
        assert_protocol_replay(path)
        # change-feed apply-diff invariant: state(v-1) + changes(v..now)
        # == state(now), as a multiset — holds for BOTH sources of truth
        # (cdc files on even seeds, add/remove derivation on odd)
        from collections import Counter

        from athena_delta_lake_spark.delta.cdf import table_changes

        prev_v, (prev_state, _vn, _vt, _he) = max(history.items())
        new_v = DeltaTable(spark, path).version()
        if new_v > prev_v:
            cnt = Counter(prev_state)
            for r in table_changes(spark, path, prev_v + 1, new_v).collect():
                key, ct = tuple(r)[:3], r["_change_type"]
                if ct in ("insert", "update_postimage"):
                    cnt[key] += 1
                else:  # delete / update_preimage
                    cnt[key] -= 1
            applied = sorted(
                k for k, c in cnt.items() for _ in range(c) if c > 0
            )
            assert all(c >= 0 for c in cnt.values()), (
                f"CDF over-delete after step {step} op {op} (seed {seed})"
            )
            assert applied == want, (
                f"CDF diff does not reconstruct state after step {step} "
                f"op {op} (seed {seed})"
            )
        history[DeltaTable(spark, path).version()] = (
            want, vname, vtype, has_extra,
        )

    # row tracking held through every op: ids all present and unique
    rid_rows = (
        DeltaTable(spark, path).to_df_with_row_ids().select("_row_id").collect()
    )
    rids = [r["_row_id"] for r in rid_rows]
    assert all(r is not None for r in rids), f"NULL row id (seed {seed})"
    assert len(set(rids)) == len(rids), f"duplicate row ids (seed {seed})"

    # clones must still equal their at-clone-time state (isolation: the
    # source kept mutating and compacting after each clone)
    for cp, want in clones:
        assert _table_state(spark, cp) == want, f"clone {cp} diverged"

    # one restore to a random recorded version, model follows
    target = rng.choice(sorted(history))
    DeltaTable(spark, path).restore(version=target)
    assert _table_state(spark, path) == history[target][0]

    # time travel to every recorded version still replays exactly
    DeltaLog.clear_cache()
    for v, (want, _vn, _vt, _he) in history.items():
        tdf = DeltaTable(spark, path).to_df(version=v)
        got = sorted(
            tuple(r) for r in tdf.select(*tdf.columns[:3]).collect()
        )
        assert got == want, f"time travel to v{v} diverged (seed {seed})"


def test_widen_replacewhere_clone_restore_interplay(spark, tmp_path):
    """Deterministic cross-feature chain: widen -> replaceWhere ->
    clone -> MOR delete -> restore across the widening boundary."""
    path = str(tmp_path / "cross")
    write_delta(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)], "id long, k long, v float"
        ),
        path,
        partition_by=["k"],
    )  # v0
    alter_column_type(path, "v", "double")  # v1
    write_delta(
        spark.createDataFrame([(100, 1, 0.5), (101, 1, 1.5)], "id long, k long, v double"),
        path,
        mode="overwrite",
        replace_where="k = 1",
    )  # v2: partition 1 replaced
    cp = str(tmp_path / "cross_clone")
    clone_table(path, cp)
    t = DeltaTable(spark, path)
    t.delete(where="k = 0", mode="mor")  # v3
    # live state: k=2 originals + the two replacements
    got = sorted(tuple(r) for r in t.to_df().collect())
    want = sorted(
        [(i, i % 3, float(i)) for i in range(30) if i % 3 == 2]
        + [(100, 1, 0.5), (101, 1, 1.5)]
    )
    assert got == want
    # the clone froze pre-delete state
    cgot = sorted(tuple(r) for r in DeltaTable(spark, cp).to_df().collect())
    cwant = sorted(
        [(i, i % 3, float(i)) for i in range(30) if i % 3 != 1]
        + [(100, 1, 0.5), (101, 1, 1.5)]
    )
    assert cgot == cwant
    # restore to v0 lands back on the NARROW schema and original rows
    t.restore(version=0)
    rt = DeltaTable(spark, path)
    assert rt.schema()["v"].dataType.simpleString() == "float"
    rgot = sorted(tuple(r) for r in rt.to_df().collect())
    assert rgot == sorted((i, i % 3, float(i)) for i in range(30))


def test_merge_evolution_interplay(spark, tmp_path):
    """Deterministic cross-feature chain for MERGE WITH SCHEMA EVOLUTION:
    evolve (COW) -> MOR delete -> evolve again (MOR merge) -> OPTIMIZE ->
    RESTORE across both evolution boundaries -> time travel, on a
    CDF-enabled table with the apply-diff invariant checked per commit."""
    from collections import Counter

    from athena_delta_lake_spark.delta.cdf import table_changes

    path = str(tmp_path / "evolve")
    write_delta(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id long, v double"
        ),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0
    t = DeltaTable(spark, path)

    def state():
        df = DeltaTable(spark, path).to_df()
        return sorted(tuple(r) for r in df.collect())

    states = {0: state()}
    # v1: evolving COW merge adds `tag`
    src = spark.createDataFrame(
        [(3, 33.0, "x"), (100, 1.0, "y")], "id long, v double, tag string"
    )
    t.merge(src, keys=["id"], schema_evolution=True)
    states[1] = state()
    assert (3, 33.0, "x") in states[1] and (0, 0.0, None) in states[1]
    # v2: MOR delete over the evolved table
    t.delete(where="id >= 15 AND id < 18", mode="mor")
    states[2] = state()
    # v3: evolving MOR merge adds `score`
    src2 = spark.createDataFrame(
        [(5, 5.5, "z", 9), (200, 2.0, "w", 7)],
        "id long, v double, tag string, score long",
    )
    t.merge(src2, keys=["id"], mode="mor", schema_evolution=True)
    states[3] = state()
    assert (5, 5.5, "z", 9) in states[3] and (0, 0.0, None, None) in states[3]
    # v4: OPTIMIZE purges DVs, no visible change
    t.compact(target_file_size=1 << 30)
    states[4] = state()
    assert states[4] == states[3]
    # apply-diff invariant across every commit so far (pad narrower states
    # to the current width — change rows carry the evolved schema)
    width = max(len(r) for r in states[3])

    def pad(rows):
        return sorted(tuple(list(r) + [None] * (width - len(r))) for r in rows)

    for v in (1, 2, 3, 4):
        cnt = Counter(pad(states[v - 1]))
        for r in table_changes(spark, path, v, v).collect():
            key = tuple(list(r)[: len(r) - 2])
            key = tuple(list(key) + [None] * (width - len(key)))
            if r["_change_type"] in ("insert", "update_postimage"):
                cnt[key] += 1
            else:
                cnt[key] -= 1
        assert all(c >= 0 for c in cnt.values()), f"over-delete at v{v}"
        applied = sorted(k for k, c in cnt.items() for _ in range(c) if c > 0)
        assert applied == pad(states[v]), f"CDF diff mismatch at v{v}"
    # restore to v1 (one evolution in) then v0 (pre-evolution): schema and
    # rows rewind exactly
    t.restore(version=1)
    rt = DeltaTable(spark, path)
    assert [f.name for f in rt.schema().fields] == ["id", "v", "tag"]
    assert state() == states[1]
    t.restore(version=0)
    rt = DeltaTable(spark, path)
    assert [f.name for f in rt.schema().fields] == ["id", "v"]
    assert state() == states[0]
    # time travel back over the whole history still replays
    for v, want in states.items():
        got = sorted(
            tuple(r) for r in DeltaTable(spark, path).to_df(version=v).collect()
        )
        assert got == want, f"time travel v{v}"
