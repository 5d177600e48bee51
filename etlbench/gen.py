"""Seeded inputs for every workload, and the plain-pandas reference
results the output checks compare against.

Each generator derives everything from one ``numpy`` generator seeded
with the run's ``--seed``, so the same seed gives byte-identical inputs.
Keys are unique by construction: fresh keys come from a counter that
never hands out the same value twice, and existing keys are sampled
without replacement from the reference model's live key set.

Money columns are whole cents divided by 100, so every sum the engine
computes is a multiple of 0.01 and rounds back to the same double on
both sides whatever order the additions ran in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def digest(df: pd.DataFrame) -> str:
    """Order-independent hash of a frame: columns sorted by name,
    integers widened to int64, floats (all money here) rounded to cents,
    then the row hashes summed modulo 2**64 together with the row count."""
    d = df[sorted(df.columns)].copy()
    for c in d.columns:
        if pd.api.types.is_float_dtype(d[c]):
            d[c] = d[c].astype("float64").round(2)
        elif pd.api.types.is_bool_dtype(d[c]):
            d[c] = d[c].astype(bool)
        elif pd.api.types.is_integer_dtype(d[c]):
            d[c] = d[c].astype("int64")
        else:
            d[c] = d[c].astype(str)
    total = int(pd.util.hash_pandas_object(d, index=False).sum()) & (2**64 - 1)
    return f"{len(d)}:{total:016x}"


def _cents(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, 100_000, n) / 100


# -- etl_incremental ---------------------------------------------------------

INC_PARTS = 4
INC_CYCLE = ("upsert", "append", "update", "overwrite", "append", "delete")
INC_UPDATE_COLS = ["part", "qty", "amount", "batch"]


class IncrementalInputs:
    """Batches for the incremental ETL loop and the target state after
    each of them.

    ``ops`` lists every job in run order: ``initial_batches`` appends
    that build the table's history, then ``cycles`` passes over
    :data:`INC_CYCLE`. Each entry is ``(kind, batch, frame, rows)``;
    ``frame`` is None for the source-less delete, whose predicate is
    ``qty = batch % 50``.
    """

    def __init__(self, seed: int, initial_batches: int, cycles: int, batch_rows: int):
        self.rng = np.random.default_rng(seed)
        self.batch_rows = batch_rows
        self.next_id = 0
        self.live = pd.DataFrame(
            {"id": pd.Series([], dtype="int64"), "part": pd.Series([], dtype="int64"),
             "qty": pd.Series([], dtype="int64"), "amount": pd.Series([], dtype="float64"),
             "batch": pd.Series([], dtype="int64")}
        ).set_index("id", drop=False)
        self.ops: list[tuple[str, int, pd.DataFrame | None, int]] = []
        kinds = ["append"] * initial_batches + list(INC_CYCLE) * cycles
        for batch, kind in enumerate(kinds):
            self._add(kind, batch)

    def _fresh(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n, dtype="int64")
        self.next_id += n
        return ids

    def _rows(self, ids: np.ndarray, batch: int) -> pd.DataFrame:
        n = len(ids)
        return pd.DataFrame({
            "id": ids.astype("int64"),
            "part": (ids % INC_PARTS).astype("int64"),
            "qty": self.rng.integers(0, 50, n).astype("int64"),
            "amount": _cents(self.rng, n),
            "batch": np.full(n, batch, dtype="int64"),
        })

    def _sample_live(self, n: int, ids: np.ndarray | None = None) -> np.ndarray:
        pool = self.live.index.to_numpy() if ids is None else ids
        return np.sort(self.rng.choice(pool, min(n, len(pool)), replace=False))

    def _add(self, kind: str, batch: int) -> None:
        b = self.batch_rows
        live = self.live
        if kind == "append":
            df = self._rows(self._fresh(b), batch)
            self.live = pd.concat([live, df.set_index("id", drop=False)])
            rows = len(df)
        elif kind == "upsert":
            ids = np.concatenate([self._sample_live(b // 2), self._fresh(b - b // 2)])
            df = self._rows(ids, batch)
            new = df.set_index("id", drop=False)
            self.live = pd.concat([live.drop(new.index, errors="ignore"), new])
            rows = len(df)
        elif kind == "update":
            # a tenth of the keys are absent from the target: an update
            # must leave them out
            ids = np.concatenate([self._sample_live(b - b // 10), self._fresh(b // 10)])
            df = self._rows(ids, batch)
            hit = df[df["id"].isin(live.index)].set_index("id", drop=False)
            self.live = pd.concat([live.drop(hit.index), hit])
            rows = len(df)
        elif kind == "overwrite":
            part = batch % INC_PARTS
            in_part = live.index[live["part"] == part].to_numpy()
            keep = self._sample_live(int(len(in_part) * 0.7), in_part)
            block = self._fresh(INC_PARTS * (b // 4))
            ids = np.concatenate([keep, block[block % INC_PARTS == part]])
            df = self._rows(ids, batch)
            self.live = pd.concat(
                [live[live["part"] != part], df.set_index("id", drop=False)]
            )
            rows = len(df)
        elif kind == "delete":
            df = None
            gone = live["qty"] == batch % 50
            rows = int(gone.sum())
            self.live = live[~gone]
        else:
            raise ValueError(kind)
        self.ops.append((kind, batch, df, rows))

    def expected(self) -> str:
        return digest(self.live.reset_index(drop=True))


# -- etl_bulk ----------------------------------------------------------------

BULK_PARTS = 8
BULK_UPDATE_COLS = ["part", "qty", "amount", "note"]
BULK_DELETE_QTY = 5
BULK_DELETE = f"qty < {BULK_DELETE_QTY}"


def _notes(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.char.add("n", rng.integers(16**9, 16**10, n).astype(str))


class BulkInputs:
    """One load plus five large writes against an ``n_rows`` table
    with keys 0..n_rows-1, partitioned 8 ways on a column unrelated to
    the key, so files keep key locality and MERGE can skip them.

    ``ops`` is ``(kind, frame, rows)`` in run order; the delete's
    predicate is :data:`BULK_DELETE`.
    """

    def __init__(self, seed: int, n_rows: int):
        rng = np.random.default_rng(seed)
        n = n_rows

        def rows(ids: np.ndarray, parts: np.ndarray) -> pd.DataFrame:
            k = len(ids)
            return pd.DataFrame({
                "id": ids.astype("int64"), "part": parts.astype("int64"),
                "qty": rng.integers(0, 100, k).astype("int64"),
                "amount": _cents(rng, k), "note": _notes(rng, k),
            })

        ids = np.arange(n, dtype="int64")
        load = rows(ids, rng.integers(0, BULK_PARTS, n))
        part_of = load["part"].to_numpy()
        spread_ids = np.sort(rng.choice(n, n // 5, replace=False))
        spread = rows(spread_ids, part_of[spread_ids])
        lo = int(rng.integers(0, n - n // 50))
        narrow_ids = np.arange(lo, lo + n // 50, dtype="int64")
        narrow = rows(narrow_ids, part_of[narrow_ids])
        new_ids = np.arange(n, n + n // 20, dtype="int64")
        newkeys = rows(new_ids, rng.integers(0, BULK_PARTS, len(new_ids)))
        two = np.sort(rng.choice(BULK_PARTS, 2, replace=False))
        in_two = ids[np.isin(part_of, two)]
        keep = np.sort(rng.choice(in_two, int(len(in_two) * 0.6), replace=False))
        extra = np.arange(n + n // 20, n + n // 20 + n // 20, dtype="int64")
        ow_ids = np.concatenate([keep, extra])
        overwrite = rows(ow_ids, np.concatenate(
            [part_of[keep], rng.choice(two, len(extra))]))
        self.ops = [
            ("load", load, len(load)),
            ("upsert_spread", spread, len(spread)),
            ("upsert_narrow", narrow, len(narrow)),
            ("upsert_newkeys", newkeys, len(newkeys)),
            ("overwrite_2parts", overwrite, len(overwrite)),
        ]
        live = load.set_index("id", drop=False)
        for _, df, _ in self.ops[1:4]:
            new = df.set_index("id", drop=False)
            live = pd.concat([live.drop(new.index, errors="ignore"), new])
        live = pd.concat([live[~live["part"].isin(two)], overwrite.set_index("id", drop=False)])
        deleted = int((live["qty"] < BULK_DELETE_QTY).sum())
        self.ops.append(("delete", None, deleted))
        self.live = live[live["qty"] >= BULK_DELETE_QTY]

    def expected(self) -> str:
        return digest(self.live.reset_index(drop=True))


# -- read_recon --------------------------------------------------------------

RECON_REGIONS = 16
RECON_METRICS = {"n": "count(*)", "amt": "sum(amount)", "q": "sum(qty)"}


def _region_names(codes: np.ndarray) -> np.ndarray:
    return np.char.add("r", np.char.zfill(codes.astype(str), 2))


class ReconInputs:
    """Three copies of one sales table that differ in known regions, a
    region dimension, and the batches of an append-only log table.

    ``sales_b`` raises amounts on a tenth of the rows in r00-r03 and
    drops a fiftieth of the rows in r12-r15; ``sales_c`` raises qty in
    r04-r05. Every other region agrees exactly, so each match flag is
    clearly true or clearly false.
    """

    def __init__(self, seed: int, n_rows: int, log_batches: int, log_rows: int):
        rng = np.random.default_rng(seed)
        n = n_rows
        code = rng.integers(0, RECON_REGIONS, n)
        a = pd.DataFrame({
            "id": np.arange(n, dtype="int64"), "region": _region_names(code),
            "qty": rng.integers(1, 20, n).astype("int64"), "amount": _cents(rng, n),
        })
        b = a.copy()
        bump = (code < 4) & (rng.random(n) < 0.1)
        b.loc[bump, "amount"] = (b.loc[bump, "amount"] * 100 + 2500) / 100
        b = b[~((code >= 12) & (rng.random(n) < 0.02))]
        c = a.copy()
        c.loc[(code == 4) | (code == 5), "qty"] += 1
        self.tables = {"sales_a": a, "sales_b": b.reset_index(drop=True), "sales_c": c}
        self.regions = pd.DataFrame({
            "region": _region_names(np.arange(RECON_REGIONS)),
            "zone": (np.arange(RECON_REGIONS) % 4).astype("int64"),
        })
        self.log_batches = []
        for i in range(log_batches):
            k = log_rows
            self.log_batches.append(pd.DataFrame({
                "id": np.arange(i * k, (i + 1) * k, dtype="int64"),
                "region": _region_names(rng.integers(0, RECON_REGIONS, k)),
                "qty": rng.integers(1, 20, k).astype("int64"), "amount": _cents(rng, k),
            }))

    # reference results for each timed query
    def _agg(self, name: str, df: pd.DataFrame) -> pd.DataFrame:
        g = df.groupby("region").agg(n=("id", "size"), amt=("amount", "sum"), q=("qty", "sum"))
        return g.rename(columns={m: f"{name}_{m}" for m in g.columns})

    @staticmethod
    def _compare(out: pd.DataFrame, c1: str, c2: str, metric: str, suffix: str) -> None:
        x, y = out[c1], out[c2]
        out[f"delta_{suffix}"] = (x - y).abs()
        if metric == "amt":
            denom = np.maximum(x.abs(), y.abs())
            out[f"match_{suffix}"] = (denom == 0) | ((x - y).abs() <= 1e-3 * denom)
        else:
            out[f"match_{suffix}"] = x == y

    def recon_two(self) -> str:
        t = self.tables
        out = self._agg("a", t["sales_a"]).join(self._agg("b", t["sales_b"]), how="outer")
        for m in RECON_METRICS:
            self._compare(out, f"a_{m}", f"b_{m}", m, m)
        return digest(out.reset_index())

    def recon_three(self) -> str:
        t = self.tables
        out = self._agg("a", t["sales_a"])
        for s in ("b", "c"):
            out = out.join(self._agg(s, t[f"sales_{s}"]), how="outer")
        for s in ("b", "c"):
            for m in RECON_METRICS:
                self._compare(out, f"a_{m}", f"{s}_{m}", m, f"{s}_{m}")
        return digest(out.reset_index())

    def zone_totals(self) -> str:
        j = self.tables["sales_a"].merge(self.regions, on="region")
        g = j.groupby("zone").agg(n=("id", "size"), amt=("amount", "sum")).reset_index()
        return digest(g)

    # the first append to a new name commits the table's creation as
    # version 0, so batch i lands in version i + 1

    def log_as_of(self, version: int) -> str:
        df = pd.concat(self.log_batches[:version])
        return digest(pd.DataFrame({"n": [len(df)], "amt": [df["amount"].sum()],
                                    "mx": [df["id"].max()]}))

    def log_changes(self, from_version: int) -> str:
        df = pd.concat(self.log_batches[from_version:])
        return digest(pd.DataFrame({"_change_type": ["insert"], "n": [len(df)],
                                    "amt": [df["amount"].sum()]}))


# -- stream_ivm --------------------------------------------------------------

EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "search"])


class StreamInputs:
    """An ``events`` table in the layout the streaming operators read
    (``event_id, ts, user_id, event_type, value, props``)."""

    def __init__(self, seed: int, n_events: int, n_users: int):
        rng = np.random.default_rng(seed)
        n = n_events
        base = np.datetime64("2024-01-01T00:00:00", "us")
        offsets = np.sort(rng.integers(0, 86_400_000_000, n))
        self.events = pd.DataFrame({
            "event_id": np.arange(n, dtype="int64"),
            "ts": base + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": _cents(rng, n),
            "props": np.char.add("{\"k\": ", np.char.add(rng.integers(0, 9, n).astype(str), "}")),
        })

    def totals(self) -> str:
        g = self.events.groupby("user_id").agg(
            n_rows=("event_id", "size"), total_value=("value", "sum")).reset_index()
        return digest(g)

    def joined(self) -> str:
        """The join view after its dimension churn: users with
        ``user_id % 11 == 0`` are deleted, ``% 3 == 0`` re-tiered to
        MOVED, the rest keep tier ``t<user_id % 5>``."""
        ev = self.events
        uid = ev["user_id"]
        tier = np.char.add("t", (uid % 5).to_numpy().astype(str)).astype(object)
        tier[(uid % 3 == 0).to_numpy()] = "MOVED"
        kept = ev.assign(tier=tier)[(uid % 11 != 0).to_numpy()]
        g = kept.groupby(["tier", "event_type"]).agg(
            n_events=("event_id", "size"), total_value=("value", "sum")).reset_index()
        return digest(g)
