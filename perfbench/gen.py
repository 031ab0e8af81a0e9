"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. Nothing is read from outside the process; the
tables are synthesized with the shapes of the engine's own test data
(``events``/``part`` star-schema source, ``documents`` and
``embeddings``), so the program sees only generated files.

Three input families:

- :class:`EventSource` — the star-schema source for ``daily_etl``: a
  base event table, an item table, and seeded daily
  deltas that mix SCD-1 updates to existing events and items with new
  events, users and items. It also keeps the expected warehouse state,
  so the checks need no second engine run.
- :func:`slicer_windows` — the BI period slicers.
- :class:`DedupStream` — the store seeds and micro-batches for the two
  dedup gates, with a fixed share of planted exact and near copies.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000
BASE_DAYS = 30

_ADJ = (
    "large", "small", "hot", "cold", "blue", "red", "steel", "smart",
    "quiet", "rapid", "analog", "digital", "fuzzy", "sturdy", "vintage",
    "compact", "modular", "wireless", "portable", "classic",
)
_NOUN = (
    "ring", "bolt", "gadget", "widget", "dongle", "module", "device",
    "lamp", "kettle", "drill", "speaker", "camera", "clock", "router",
    "mixer", "scanner", "charger", "monitor", "sensor", "cable",
    "fan", "heater", "tripod", "keyboard", "mouse",
)
_BRANDS = tuple(f"Brand#{i}" for i in range(1, 26))
_PTYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")


def file_bytes(path: str) -> int:
    """Total size of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _events_table(df: pd.DataFrame) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(df["event_id"].to_numpy(), pa.int64()),
            "ts": pa.array(df["ts"].to_numpy(), pa.timestamp("us")),
            "user_id": pa.array(df["user_id"].to_numpy(), pa.int64()),
            "event_type": pa.array(df["event_type"].to_numpy(), pa.string()),
            "value": pa.array(df["value"].to_numpy(), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in df["item_key"].to_numpy()], pa.string()
            ),
        }
    )


def _part_table(df: pd.DataFrame) -> pa.Table:
    return pa.table(
        {
            "p_partkey": pa.array(df["p_partkey"].to_numpy(), pa.int64()),
            "p_name": pa.array(df["p_name"].to_numpy(), pa.string()),
            "p_brand": pa.array(df["p_brand"].to_numpy(), pa.string()),
            "p_type": pa.array(df["p_type"].to_numpy(), pa.string()),
            "p_size": pa.array(df["p_size"].to_numpy(), pa.int32()),
            "p_retailprice": pa.array(df["p_retailprice"].to_numpy(), pa.float64()),
        }
    )


@dataclass
class Delta:
    """One day's landed source plus what the warehouse must hold after it."""

    day: int
    source_dir: str
    event_rows: int
    rows: int
    bytes: int
    updated_ids: list[int]


@dataclass
class EventSource:
    """Generated star-schema source and its expected warehouse state.

    ``events`` and ``items`` always hold the state the warehouse must
    reach after the last landed day: base rows, SCD-1 updates applied,
    new rows appended. ``event_id`` equals the row position, so an
    update is an index assignment.
    """

    seed: int
    n_events: int
    n_users: int
    n_items: int
    delta_share: float
    events: pd.DataFrame = field(init=False)
    items: pd.DataFrame = field(init=False)
    rng: np.random.Generator = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 1])
        self.items = self._new_items(np.arange(self.n_items))
        self.events = self._new_events(
            np.arange(self.n_events),
            T0,
            BASE_DAYS * DAY_US,
            self.rng.integers(0, self.n_users, self.n_events),
            self.n_items,
        )
        self.next_user = self.n_users

    # -- row factories -------------------------------------------------
    def _new_items(self, ids: np.ndarray) -> pd.DataFrame:
        rng = self.rng
        n = len(ids)
        names = [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(
                rng.integers(0, len(_ADJ), n), rng.integers(0, len(_NOUN), n)
            )
        ]
        return pd.DataFrame(
            {
                "p_partkey": ids.astype(np.int64),
                "p_name": names,
                "p_brand": rng.choice(_BRANDS, n),
                "p_type": rng.choice(_PTYPES, n),
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(1.0, 2250.0, n), 2),
            }
        )

    def _item_keys(self, n: int, n_items: int) -> np.ndarray:
        # Skewed popularity: a few items collect most views, so the
        # top-item and rank views have distinct winners.
        weights = 1.0 / (np.arange(n_items) + 10.0)
        return self.rng.choice(n_items, n, p=weights / weights.sum())

    def _new_events(self, ids, start, span_us, users, n_items) -> pd.DataFrame:
        rng = self.rng
        n = len(ids)
        return pd.DataFrame(
            {
                "event_id": ids.astype(np.int64),
                "ts": start
                + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]"),
                "user_id": np.asarray(users, np.int64),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "item_key": self._item_keys(n, n_items).astype(np.int64),
            }
        )

    # -- files ---------------------------------------------------------
    def write_base(self, out_dir: str) -> tuple[int, int]:
        """Write the base source; returns (rows, bytes)."""
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(_events_table(self.events), f"{out_dir}/events.parquet")
        pq.write_table(_part_table(self.items), f"{out_dir}/part.parquet")
        return len(self.events) + len(self.items), file_bytes(out_dir)

    def land_delta(self, day: int, out_dir: str) -> Delta:
        """Generate day ``day``'s delta, write it, and advance the
        expected state. Half the delta updates existing events (new
        ``value``, same fact key); half is new events on the new day,
        a fifth of them from new users, some on new items. A few items
        get new prices and a few new items appear."""
        rng = self.rng
        n_delta = max(2, int(self.n_events * self.delta_share))
        n_upd = n_delta // 2
        n_new = n_delta - n_upd
        n_events = len(self.events)

        upd_ids = np.sort(rng.choice(n_events, n_upd, replace=False))
        upd = self.events.iloc[upd_ids].copy()
        upd["value"] = np.round(upd["value"].to_numpy() + rng.uniform(1.0, 10.0, n_upd), 2)

        n_new_items = max(1, len(self.items) // 200)
        new_item_ids = np.arange(len(self.items), len(self.items) + n_new_items)
        new_items = self._new_items(new_item_ids)
        upd_item_ids = np.sort(rng.choice(len(self.items), n_new_items, replace=False))
        upd_items = self.items.iloc[upd_item_ids].copy()
        upd_items["p_retailprice"] = np.round(
            upd_items["p_retailprice"].to_numpy() + rng.uniform(1.0, 50.0, n_new_items), 2
        )

        users = rng.integers(0, self.next_user, n_new)
        fresh_users = rng.random(n_new) < 0.2
        users[fresh_users] = self.next_user + np.arange(int(fresh_users.sum()))
        self.next_user += int(fresh_users.sum())
        new = self._new_events(
            np.arange(n_events, n_events + n_new),
            T0 + np.timedelta64((BASE_DAYS + day - 1) * DAY_US, "us"),
            DAY_US,
            users,
            len(self.items) + n_new_items,
        )

        delta_events = pd.concat([upd, new], ignore_index=True)
        delta_items = pd.concat([upd_items, new_items], ignore_index=True)
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(_events_table(delta_events), f"{out_dir}/events.parquet")
        pq.write_table(_part_table(delta_items), f"{out_dir}/part.parquet")

        self.events.loc[upd_ids, "value"] = upd["value"].to_numpy()
        self.events = pd.concat([self.events, new], ignore_index=True)
        self.items.loc[upd_item_ids, "p_retailprice"] = upd_items["p_retailprice"].to_numpy()
        self.items = pd.concat([self.items, new_items], ignore_index=True)
        return Delta(
            day=day,
            source_dir=out_dir,
            event_rows=len(delta_events),
            rows=len(delta_events) + len(delta_items),
            bytes=file_bytes(out_dir),
            updated_ids=upd["event_id"].tolist(),
        )

    def arrow_events(self) -> pa.Table:
        return _events_table(self.events)

    def arrow_part(self) -> pa.Table:
        return _part_table(self.items)


def slicer_windows(
    seed: int, span_days: int, n: int = 8, length: int = 10
) -> list[tuple[np.datetime64, np.datetime64]]:
    """``n`` seeded period slicers [lo, hi) of ``length`` days inside
    the first ``span_days`` days. Equal lengths keep the work of a
    refresh alike across seeds; the seed moves the windows."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for _ in range(n):
        lo = int(rng.integers(0, span_days - length + 1))
        out.append(
            (
                T0 + np.timedelta64(lo * DAY_US, "us"),
                T0 + np.timedelta64((lo + length) * DAY_US, "us"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# Dedup stream inputs
# ---------------------------------------------------------------------------

DOC_VOCAB = tuple(f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "pe", "ru", "sa", "to", "vi", "ze")
                  for b in ("ban", "cor", "dun", "fel", "gim", "hap", "jol", "kev",
                            "lum", "mor", "nis", "pov", "qua", "rix", "sud", "tem",
                            "ulm", "vaz", "wix", "yor"))
EMB_DIM = 64
# The semantic gate's default cosine threshold. Fresh vectors are drawn
# until none is this close to a vector the gate has already seen (store,
# earlier batches, the same batch), so only planted copies are
# duplicates. Unstructured 64-d vectors alone would not do: about 60% of
# them have a neighbour at cosine >= 0.4 among 2000 others.
NOVEL_COS = 0.4


@dataclass
class Batch:
    """One micro-batch for one gate, with the ids the checks need."""

    ids: np.ndarray
    exact_ids: np.ndarray
    near_ids: np.ndarray
    table: pa.Table


@dataclass
class DedupStream:
    """Store seeds and micro-batches for the MinHash (documents) and
    semantic (embeddings) gates.

    Each batch holds ``batch_size`` items: ``plant_share`` of them are
    planted exact copies and the same number are near copies. In the
    first batch every planted copy copies a store item; later, half
    copy store items and half copy fresh items of earlier batches, so
    the cross-batch path (keepers appended to the store) is hit.
    Originals are drawn without replacement, and copies always carry
    higher ids than their originals."""

    seed: int
    store_size: int
    batch_size: int
    plant_share: float = 0.1

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 3])
        self.store_docs = self._docs(np.arange(self.store_size))
        self._seen = self._vectors(self.store_size)
        self.store_embs = self._emb_table(np.arange(self.store_size), self._seen)
        self._next_id = 1_000_000
        self._fresh_docs: list[tuple[int, str]] = []
        self._fresh_vecs: list[tuple[int, np.ndarray]] = []
        self._used_docs: set[tuple[str, int]] = set()
        self._used_vecs: set[tuple[str, int]] = set()

    # -- factories -----------------------------------------------------
    def _text(self) -> str:
        n = int(self.rng.integers(30, 90))
        return " ".join(self.rng.choice(DOC_VOCAB, n))

    def _docs(self, ids) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(np.asarray(ids), pa.int64()),
                "text": pa.array([self._text() for _ in ids], pa.string()),
            }
        )

    def _unit(self, x: np.ndarray) -> np.ndarray:
        return (x / np.linalg.norm(x, axis=-1, keepdims=True)).astype(np.float32)

    def _vectors(self, n: int) -> np.ndarray:
        return self._unit(self.rng.normal(size=(n, EMB_DIM)))

    def _novel_vectors(self, n: int) -> np.ndarray:
        """``n`` vectors below :data:`NOVEL_COS` to every seen vector and
        to each other (rejection sampling)."""
        out = np.empty((n, EMB_DIM), np.float32)
        k = 0
        while k < n:
            cand = self._vectors(1024)
            cand = cand[(cand @ self._seen.T).max(axis=1) < NOVEL_COS]
            for v in cand:
                if k == n:
                    break
                if k == 0 or (out[:k] @ v).max() < NOVEL_COS:
                    out[k] = v
                    k += 1
        return out

    @staticmethod
    def _emb_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        )

    def _near_text(self, text: str) -> str:
        words = text.split(" ")
        k = max(1, len(words) // 20)
        for pos in self.rng.choice(len(words), k, replace=False):
            words[pos] = str(self.rng.choice(DOC_VOCAB))
        return " ".join(words)

    def _originals(self, n: int, fresh: list, used: set, store_n: int, first: bool):
        """``n`` distinct originals: indices into the store (>= 0) or
        into the fresh list (encoded as -1 - index)."""
        n_fresh = 0 if first or not fresh else n // 2
        out = []
        avail_store = [i for i in range(store_n) if ("s", i) not in used]
        for i in self.rng.choice(len(avail_store), n - n_fresh, replace=False):
            used.add(("s", avail_store[i]))
            out.append(avail_store[i])
        avail_fresh = [i for i in range(len(fresh)) if ("f", i) not in used]
        for i in self.rng.choice(len(avail_fresh), n_fresh, replace=False):
            used.add(("f", avail_fresh[i]))
            out.append(-1 - avail_fresh[i])
        return out

    # -- batches -------------------------------------------------------
    def next_batches(self) -> tuple[Batch, Batch]:
        """The next (documents, embeddings) micro-batch pair."""
        first = not self._fresh_docs
        n_plant = max(1, int(self.batch_size * self.plant_share))
        n_fresh = self.batch_size - 2 * n_plant
        base = self._next_id
        self._next_id += self.batch_size
        fresh_ids = np.arange(base, base + n_fresh)
        exact_ids = np.arange(base + n_fresh, base + n_fresh + n_plant)
        near_ids = np.arange(base + n_fresh + n_plant, base + self.batch_size)
        ids = np.arange(base, base + self.batch_size)

        store_text = self.store_docs.column("text")
        fresh_text = [self._text() for _ in fresh_ids]
        orig = self._originals(2 * n_plant, self._fresh_docs, self._used_docs,
                               self.store_size, first)
        self.rng.shuffle(orig)

        def doc_text(o):
            return store_text[o].as_py() if o >= 0 else self._fresh_docs[-1 - o][1]

        texts = (
            fresh_text
            + [doc_text(o) for o in orig[:n_plant]]
            + [self._near_text(doc_text(o)) for o in orig[n_plant:]]
        )
        docs = Batch(ids, exact_ids, near_ids,
                     pa.table({"doc_id": pa.array(ids, pa.int64()),
                               "text": pa.array(texts, pa.string())}))
        self._fresh_docs.extend(zip(fresh_ids.tolist(), fresh_text))

        fresh_vecs = self._novel_vectors(n_fresh)
        orig = self._originals(2 * n_plant, self._fresh_vecs, self._used_vecs,
                               self.store_size, first)
        self.rng.shuffle(orig)

        def vec(o):
            # The store's vectors are the first rows of ``_seen``.
            return self._seen[o] if o >= 0 else self._fresh_vecs[-1 - o][1]

        exact = np.stack([vec(o) for o in orig[:n_plant]])
        near_src = np.stack([vec(o) for o in orig[n_plant:]])
        near = self._unit(near_src + self.rng.normal(scale=0.02, size=near_src.shape))
        vecs = np.concatenate([fresh_vecs, exact, near])
        embs = Batch(ids, exact_ids, near_ids, self._emb_table(ids, vecs))
        self._seen = np.concatenate([self._seen, vecs.astype(np.float32)])
        self._fresh_vecs.extend(zip(fresh_ids.tolist(), fresh_vecs))
        return docs, embs
