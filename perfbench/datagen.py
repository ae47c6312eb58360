"""Seeded input generation for the benchmark.

Every table the measured queries read is generated here from the run's
``--seed`` (same seed, same bytes), in the shapes the engine's fixture
catalog expects (FIXTURES.md §A): ``events``, ``customer``,
``documents`` and ``embeddings``, one parquet file each under an
``sf_dir``.  The click log of the ``report_stream`` workload (FIXTURES.md
§B: ``users`` and ``clicks``) is generated here too; the open-loop
writer that replays it lives in ``clickgen.py``.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SERVICES = (
    "gitlab", "jupyterhub", "git", "openldap", "googlekubernetes", "odoo",
    "rabbitmq", "activemq", "camel", "cassandra", "kafka", "zookeeper",
)
GENDERS = ("Mężczyzna", "Kobieta")
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 24 * 3600 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def write_events(rng: np.random.Generator, path: str, n: int, n_users: int) -> None:
    """The clickstream fact table: ids follow event time, like the fixture."""
    ts = np.sort(_T0_US + rng.integers(0, _SPAN_US, n))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
                "event_type": pa.array(
                    [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
                ),
                "value": pa.array(
                    np.round(rng.exponential(50.0, n) + 0.01, 2)
                ),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
                ),
            }
        ),
        path,
    )


def write_customer(rng: np.random.Generator, path: str, n: int) -> None:
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, n, dtype=np.int32)
                ),
                "c_acctbal": pa.array(
                    np.round(rng.uniform(-999.0, 9999.0, n), 2)
                ),
                "c_mktsegment": pa.array(
                    [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)]
                ),
            }
        ),
        path,
    )


def write_documents(rng: np.random.Generator, path: str, n: int) -> None:
    """Bag-of-words documents; one in twenty is an earlier document plus
    one or two ``dup`` tokens, so the near-duplicate operators find
    planted pairs as on the fixture."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(
                    [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
                ),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        path,
    )


def write_embeddings(rng: np.random.Generator, path: str, n: int, dim: int = 64) -> None:
    """Unit vectors around ten weak class centroids."""
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(
                    list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
                ),
                "label": pa.array(labels),
            }
        ),
        path,
    )


def write_tables(
    sf_dir: str,
    seed: int,
    *,
    events: int = 0,
    users: int = 0,
    customers: int = 0,
    documents: int = 0,
    embeddings: int = 0,
) -> None:
    """Write the requested fixture tables under ``sf_dir`` (0 = skip).

    Each table draws from its own stream derived from ``seed``, so the
    bytes of one table do not depend on which others a workload asks for.
    """
    os.makedirs(sf_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(4)
    if events:
        write_events(
            np.random.default_rng(streams[0]),
            os.path.join(sf_dir, "events.parquet"), events, users,
        )
    if customers:
        write_customer(
            np.random.default_rng(streams[1]),
            os.path.join(sf_dir, "customer.parquet"), customers,
        )
    if documents:
        write_documents(
            np.random.default_rng(streams[2]),
            os.path.join(sf_dir, "documents.parquet"), documents,
        )
    if embeddings:
        write_embeddings(
            np.random.default_rng(streams[3]),
            os.path.join(sf_dir, "embeddings.parquet"), embeddings,
        )


@dataclass
class ClickLog:
    """The ``report_stream`` input: users, and clicks cut into files."""

    users: list[dict]
    files: list[list[tuple[int, str]]]  # per file: (user_id, service)
    backlog_files: int

    def expected_report(self, through_file: int | None = None) -> dict:
        """Pure-Python twin of the report's numbers: clicks per service and
        per-(service, dimension, value) counts, over files[:through_file]."""
        by_id = {u["user_id"]: u for u in self.users}
        overall: Counter = Counter()
        dims: Counter = Counter()
        for f in self.files[:through_file]:
            for uid, service in f:
                if service == "home":
                    continue
                u = by_id[uid]
                overall[service] += 1
                for dim in ("age", "city", "gender"):
                    dims[(service, dim, str(u[dim]))] += 1
        return {"overall": dict(overall), "dims": dict(dims)}

    def cumulative_reported(self) -> list[int]:
        """Non-home clicks through each file: the report's grand total
        once that file (and every earlier one) has been processed."""
        out, total = [], 0
        for f in self.files:
            total += sum(1 for _, s in f if s != "home")
            out.append(total)
        return out


def click_log(
    seed: int,
    *,
    n_users: int,
    n_cities: int,
    backlog_files: int,
    backlog_clicks: int,
    live_files: int,
    live_clicks: int,
    zipf_a: float = 1.3,
) -> ClickLog:
    """Users with age 18-70, ``n_cities`` cities and both genders (never
    NULL: see NOTES.md, known defects); clicks over the 12 services plus
    ``home``, Zipf-skewed by service rank."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    users = [
        {
            "user_id": i,
            "age": int(rng.integers(18, 71)),
            "city": f"Miasto{int(rng.integers(0, n_cities)):02d}",
            "gender": GENDERS[int(rng.integers(0, 2))],
        }
        for i in range(n_users)
    ]
    catalog = ("home",) + SERVICES
    weights = 1.0 / np.arange(1, len(catalog) + 1) ** zipf_a
    weights /= weights.sum()
    order = rng.permutation(len(catalog))  # which service gets which rank
    files = []
    for i in range(backlog_files + live_files):
        n = backlog_clicks if i < backlog_files else live_clicks
        uids = rng.integers(0, n_users, n)
        svcs = order[rng.choice(len(catalog), n, p=weights)]
        files.append([(int(u), catalog[s]) for u, s in zip(uids, svcs)])
    return ClickLog(users=users, files=files, backlog_files=backlog_files)


def write_click_file(directory: str, index: int, clicks: list[tuple[int, str]]) -> str:
    """Write one click file as JSON lines under a hidden name, then rename
    it into place, so the file source never lists a partial file."""
    name = f"clicks-{index:06d}.json"
    hidden = os.path.join(directory, f".{name}.tmp")
    with open(hidden, "w", encoding="utf-8") as fh:
        for uid, service in clicks:
            fh.write(json.dumps({"user_id": uid, "service": service}) + "\n")
    final = os.path.join(directory, name)
    os.replace(hidden, final)
    return final
