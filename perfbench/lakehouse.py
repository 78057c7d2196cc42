"""lakehouse_mixed: a seeded closed-loop op stream against one
``sinks.versioned`` table and a CDC mirror of it.

One pass is a fixed sequence of 15 ops. Five commits (append, upsert
biased toward recent keys, merge with update/delete/insert rows,
delete through a deletion vector, compaction) are each followed by a
read of the latest snapshot. Then come a point read, a range read and a
time-travel read of a past version, a log checkpoint, and a mirror
advance through ``streaming.cdc.mirror_table_changes``. Deletes trim
the oldest keys, so the table holds a steady ~``rows`` live rows and
every pass does the same work.

The check is a Python dict replay of key -> row. Every snapshot read is
compared with the model's fingerprint of that version: row count and
exact integer sums over the key, value and a CRC32 of the note.
"""

from __future__ import annotations

import zlib

import numpy as np

SCALES = {
    # live rows held steady, appended rows per pass, files per append
    "full": {"rows": 8000, "append": 1000, "batch": 300, "files": 4},
    "tiny": {"rows": 300, "append": 60, "batch": 20, "files": 2},
    "warm": {"rows": 400, "append": 80, "batch": 30, "files": 2},
}
SCHEMA = "k long, g int, v double, note string"
COMMIT_OPS = ("append", "upsert", "merge", "delete_dv", "compact")
INDEX = {"stats_cols": ["k"], "bloom_cols": ["k"]}


def _row(rng, k: int) -> tuple:
    return (int(k), int(rng.integers(0, 16)), float(rng.integers(0, 1000)),
            f"n{int(rng.integers(0, 10**9)):09d}")


def fingerprint(rows) -> tuple:
    """(count, sum k, sum k*v, sum crc32(note), sum g) of (k, g, v, note) rows."""
    n = sk = skv = sc = sg = 0
    for k, g, v, note in rows:
        n += 1
        sk += k
        skv += k * int(v)
        sc += zlib.crc32(note.encode())
        sg += g
    return (n, sk, skv, sc, sg)


def engine_fingerprint(df):
    """The same fingerprint as one aggregate over a snapshot frame."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("k"), F.lit(0)).alias("sk"),
        F.coalesce(F.sum(F.col("k") * F.col("v").cast("long")), F.lit(0)).alias("skv"),
        F.coalesce(F.sum(F.crc32(F.col("note"))), F.lit(0)).alias("sc"),
        F.coalesce(F.sum("g"), F.lit(0)).alias("sg"),
    )


def _fp_of(rows) -> tuple:
    r = rows[0]
    return (r["n"], r["sk"], r["skv"], r["sc"], r["sg"])


class Model:
    """Replay model of the table: key -> row, plus each version's fingerprint."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, tuple] = {}

    def fp(self, lo=None, hi=None) -> tuple:
        rows = self.rows.values()
        if lo is not None:
            rows = [r for r in rows if lo <= r[0] <= hi]
        return fingerprint(rows)

    def commit(self, version: int) -> None:
        self.versions[version] = self.fp()


class LakehouseMixed:
    name = "lakehouse_mixed"

    def __init__(self, scratch, seed: int, scale: str):
        self.scratch = scratch
        self.seed = seed
        self.sizes = SCALES[scale]
        self.rng = np.random.default_rng(seed)
        self.stats: list[dict] = []
        self.measure_bytes = False

    # -- table lifecycle --------------------------------------------------
    def _open(self, spark, name: str, sizes: dict, rng) -> dict:
        from gedixr_spark.sinks import versioned as vt

        root = self.scratch.sub("tables", name)
        t = {"path": str(root / "src"), "mirror": str(root / "mirror"), "model": Model(),
             "next_key": 0, "sizes": sizes, "rng": rng, "root": root}
        vt.init_versioned(spark, t["path"])
        rows = [_row(rng, k) for k in range(sizes["rows"])]
        t["next_key"] = sizes["rows"]
        res = vt.commit_append(spark, t["path"], self._df(spark, rows, sizes["files"]), **INDEX)
        t["model"].rows.update((r[0], r) for r in rows)
        t["model"].commit(res["version"])
        return t

    def _df(self, spark, rows, parts: int = 1):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["k", "g", "v", "note"])
        return spark.createDataFrame(pdf, SCHEMA).repartition(parts)

    def warm_up(self, spark) -> None:
        """First commit and first snapshot read, on a small table."""
        from gedixr_spark.sinks import versioned as vt

        t = self._open(spark, "warm", SCALES["warm"], np.random.default_rng(self.seed + 1))
        engine_fingerprint(vt.read_versioned(spark, t["path"])).collect()
        self.scratch.clear("tables", "warm")

    def start(self, spark, traced: bool) -> None:
        self.measure_bytes = traced
        self.table = self._open(spark, "main", self.sizes, self.rng)

    def run_pass(self, spark, rec) -> None:
        rows = self.sizes["append"] + 2 * self.sizes["batch"]
        rec.run_pass(lambda: self._pass(spark, rec), rows)

    # -- one pass -----------------------------------------------------------
    def _pass(self, spark, rec) -> None:
        from pyspark.sql import functions as F

        from gedixr_spark.sinks import versioned as vt
        from gedixr_spark.streaming import cdc

        t = self.table
        path, m, rng, sz = t["path"], t["model"], t["rng"], t["sizes"]

        def commit(kind, fn, apply, batch=()):
            """Run a commit op, replay it on the model, read the snapshot back."""
            before = _dir_bytes(t["root"]) if self.measure_bytes else None
            res = rec.op(kind, "write", fn, check=lambda r: isinstance(r.get("version"), int))
            if res is not None:
                apply()
                if res.get("op") != "noop":
                    m.commit(res["version"])
            if before is not None:
                self._note(rec, kind, before, t, _rows_bytes(batch))
            expect = m.fp()
            rec.op("read_versioned", "read",
                   lambda: engine_fingerprint(vt.read_versioned(spark, path)),
                   lambda df: df.collect(), lambda rows: _fp_of(rows) == expect)

        # append: fresh keys
        k0 = t["next_key"]
        new = [_row(rng, k) for k in range(k0, k0 + sz["append"])]

        def do_append():
            t["next_key"] += len(new)
            m.rows.update((r[0], r) for r in new)

        commit("append", lambda: vt.commit_append(
            spark, path, self._df(spark, new, sz["files"]), **INDEX), do_append, new)

        # upsert: 70% recent existing keys, 30% new keys
        recent = _recent_keys(m, rng, int(sz["batch"] * 0.7))
        k0 = t["next_key"]
        fresh = list(range(k0, k0 + sz["batch"] - len(recent)))
        ups = [_row(rng, k) for k in recent + fresh]

        def do_upsert():
            t["next_key"] += len(fresh)
            m.rows.update((r[0], r) for r in ups)

        commit("upsert", lambda: vt.commit_upsert(
            spark, path, self._df(spark, ups), keys=["k"], **INDEX), do_upsert, ups)

        # merge: update / delete existing keys, insert new ones
        live = _recent_keys(m, rng, int(sz["batch"] * 0.6))
        n_del = len(live) // 3
        dels, upds = live[:n_del], live[n_del:]
        k0 = t["next_key"]
        ins = list(range(k0, k0 + sz["batch"] - len(live)))
        src = ([(*_row(rng, k), "D") for k in dels] + [(*_row(rng, k), "U") for k in upds]
               + [(*_row(rng, k), "I") for k in ins])

        def do_merge():
            t["next_key"] += len(ins)
            for k in dels:
                m.rows.pop(k, None)
            for r in src:
                if r[4] != "D":
                    m.rows[r[0]] = r[:4]

        def merge():
            import pandas as pd

            pdf = pd.DataFrame(src, columns=["k", "g", "v", "note", "op"])
            df = spark.createDataFrame(pdf, SCHEMA + ", op string")
            return vt.commit_merge(
                spark, path, df, keys=["k"],
                when_matched_update={"g": "s.g", "v": "s.v", "note": "s.note"},
                when_matched_delete="s.op = 'D'", **INDEX)

        commit("merge", merge, do_merge, src)

        # deletion-vector delete of the oldest keys: holds the table steady
        excess = len(m.rows) - sz["rows"]
        cut = sorted(m.rows)[excess] if excess > 0 else min(m.rows)

        def do_delete():
            for k in [k for k in m.rows if k < cut]:
                del m.rows[k]

        commit("delete_dv", lambda: vt.commit_delete(
            spark, path, F.col("k") < F.lit(cut), mode="dv"), do_delete)

        commit("compact", lambda: vt.commit_compact(
            spark, path, sort_by=["k"], n_files=sz["files"], **INDEX), lambda: None)

        # reads
        keys = sorted(m.rows)
        probe = int(keys[int(rng.integers(0, len(keys)))])
        want = [m.rows[probe]]
        rec.op("read_point", "read",
               lambda: vt.read_point(spark, path, "k", probe).select("k", "g", "v", "note"),
               lambda df: df.collect(),
               lambda rows: [tuple(r) for r in rows] == want)
        span = max(1, len(keys) // 40)
        i = int(rng.integers(0, len(keys) - span))
        lo, hi = int(keys[i]), int(keys[i + span])
        expect = m.fp(lo, hi)
        rec.op("read_where", "read",
               lambda: engine_fingerprint(vt.read_where(spark, path, "k", lo, hi)),
               lambda df: df.collect(), lambda rows: _fp_of(rows) == expect)
        if self.measure_bytes:
            sel, total = vt.files_for_range(spark, path, "k", lo, hi)
            self.stats.append({"kind": "skip", "selected": len(sel), "live": total})
        past = sorted(m.versions)
        v = int(past[int(rng.integers(max(0, len(past) - 12), len(past) - 1))]) if len(past) > 1 else past[0]
        expect_v = m.versions[v]
        rec.op("read_versioned", "read",
               lambda: engine_fingerprint(vt.read_versioned(spark, path, version=v)),
               lambda df: df.collect(), lambda rows: _fp_of(rows) == expect_v)

        before = _dir_bytes(t["root"]) if self.measure_bytes else None
        rec.op("checkpoint", "write", lambda: vt.checkpoint_log(spark, path))
        if before is not None:
            self._note(rec, "checkpoint", before, t, 0)
        expect = m.fp()
        rec.op("mirror", "write",
               lambda: cdc.mirror_table_changes(spark, path, t["mirror"], keys=["k"]),
               lambda _res: engine_fingerprint(vt.read_versioned(spark, t["mirror"])).collect(),
               lambda rows: _fp_of(rows) == expect)
        if self.measure_bytes:
            st = vt.metadata_cache_stats()
            self.stats.append({
                "kind": "pass", "meta": st, "live_files": len(vt.live_files(spark, path)),
                "stored": _dir_bytes_under(path), "live_bytes": _rows_bytes(m.rows.values()),
            })

    def _note(self, rec, kind, before: dict, t, input_bytes: int) -> None:
        after = _dir_bytes(t["root"])
        written = sum(sz for f, sz in after.items() if before.get(f) != sz)
        self.stats.append({"kind": "bytes", "op": kind, "pass": rec.pass_no,
                           "written": written, "input": input_bytes})

    # -- traced run -------------------------------------------------------
    def trace_hooks(self, tracer) -> None:
        from gedixr_spark.sinks import versioned as vt
        from gedixr_spark.streaming import cdc

        for fn in ("commit_append", "commit_upsert", "commit_merge", "commit_delete",
                   "commit_compact", "checkpoint_log", "read_versioned", "read_point",
                   "read_where"):
            tracer.wrap(vt, fn, f"versioned.{fn}")
        tracer.wrap(cdc, "mirror_table_changes", "cdc.mirror_table_changes")

    def layer_counters(self, ops) -> dict[str, float]:
        from perfbench.harness import median, tail

        out: dict[str, float] = {}
        byt = [s for s in self.stats if s["kind"] == "bytes"]
        for kind in ("append", "upsert", "merge", "delete_dv", "compact", "checkpoint"):
            out[f"versioned.{kind}_bytes_written"] = median([s["written"] for s in byt if s["op"] == kind])
        for kind in ("read_versioned", "read_point", "read_where"):
            out[f"versioned.{kind}_bytes_written"] = 0.0
        commits = [s for s in byt if s["op"] in COMMIT_OPS]
        inp = sum(s["input"] for s in commits)
        out["versioned.bytes_written_per_input_byte"] = (
            sum(s["written"] for s in commits) / inp if inp else 0.0)
        passes = [s for s in self.stats if s["kind"] == "pass"]
        if len(passes) > 1:
            # per-pass deltas of the session-wide cache counters
            d = [{k: b["meta"][k] - a["meta"][k] for k in ("entry_reads", "entry_hits")}
                 | {"replays": _replays(b["meta"]) - _replays(a["meta"])}
                 for a, b in zip(passes, passes[1:])]
            hits = sum(x["entry_hits"] for x in d)
            reads = hits + sum(x["entry_reads"] for x in d)
            out["versioned.meta_hit_ratio"] = hits / reads if reads else 0.0
            out["versioned.log_replays"] = median([x["replays"] for x in d])
        if passes:
            last = passes[-1]
            out["versioned.files_live"] = float(last["live_files"])
            out["versioned.bytes_stored_per_live_byte"] = last["stored"] / last["live_bytes"]
        skips = [s for s in self.stats if s["kind"] == "skip"]
        out["versioned.skip_ratio"] = median([s["selected"] / s["live"] for s in skips if s["live"]])
        done = [o for o in ops if o.ok]
        out["versioned.commit_tail_s"] = tail([o.wall for o in done if o.kind in COMMIT_OPS])
        out["versioned.read_tail_s"] = tail([o.wall for o in done if o.cls == "read"])
        return out


def _replays(meta: dict) -> int:
    return meta["walks"].get("replay_state", {}).get("computed", 0)


def _recent_keys(m: Model, rng, n: int) -> list[int]:
    """``n`` distinct live keys, drawn from the newest quarter of the table."""
    keys = sorted(m.rows)
    pool = keys[-max(n, len(keys) // 4):]
    return [int(k) for k in rng.choice(pool, size=min(n, len(pool)), replace=False)]


def _rows_bytes(rows) -> int:
    """Plain encoded size of rows: 8 + 4 + 8 bytes plus the note text."""
    return sum(20 + len(r[3]) for r in rows)


def _dir_bytes(root) -> dict:
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _dir_bytes_under(path: str) -> int:
    return sum(_dir_bytes(path).values())
