"""Seeded inputs of ``ingest_rw``. The same seed gives the same inputs;
the program under test only ever sees what these functions produce."""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = ("red", "green", "blue", "black")

def perturbed(rng: np.random.Generator, base: np.ndarray, scale: float) -> list[float]:
    """A unit query vector near ``base``."""
    v = base.astype(np.float64) + rng.normal(scale=scale, size=base.shape[0])
    v /= np.linalg.norm(v)
    return [float(a) for a in v]


class EventGenerator:
    """S3 bucket notifications over a growing key space, plus the
    last-writer-wins model of what the collection must hold."""

    BUCKET = "bench-bucket"
    ENDPOINT = "http://rgw"

    def __init__(self, rng: np.random.Generator, n_initial: int, n_new: int) -> None:
        self.rng = rng
        total = n_initial + n_new
        self.keys = [f"docs/obj-{i:06d}.txt" for i in range(total)]
        self.texts = [
            self.keys[i] + " " + " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(n)))
            for i, n in enumerate(rng.integers(8, 24, total))
        ]
        self.next_new = n_initial
        self.clock = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        self.rev = 0
        # key -> (url, tags) for every live key
        self.live: dict[str, tuple[str, dict]] = {}
        self.live_list: list[str] = []
        self.initial = []
        for k in self.keys[:n_initial]:
            tags = {"color": COLORS[int(rng.integers(len(COLORS)))], "rev": "0"}
            self.initial.append((k, tags))
            self._put(k, tags)

    def url(self, key: str) -> str:
        return f"{self.ENDPOINT}/{self.BUCKET}/{key}"

    def _put(self, key: str, tags: dict) -> None:
        if key not in self.live:
            self.live_list.append(key)
        self.live[key] = (self.url(key), tags)

    def _delete(self, key: str) -> None:
        if key in self.live:
            del self.live[key]
            self.live_list.remove(key)

    def write_texts(self, path: str) -> None:
        pq.write_table(pa.table({"key": self.keys, "text": self.texts}), path)

    def write_initial(self, path: str) -> None:
        idx = {k: i for i, k in enumerate(self.keys)}
        pq.write_table(pa.table({
            "key": [k for k, _ in self.initial],
            "text": [self.texts[idx[k]] for k, _ in self.initial],
            "url": [self.url(k) for k, _ in self.initial],
            "tags": pa.array([list(t.items()) for _, t in self.initial],
                             type=pa.map_(pa.string(), pa.string())),
        }), path)

    def batch(self, n_records: int) -> tuple[str, list[str]]:
        """One notification file of ``n_records`` records: ~60% PUT on live
        keys, ~20% PUT on new keys, ~20% DELETE, ~10% re-touching a key
        already in the file at a later event time; some lines carry a
        multi-record ``Records`` array. Applies the events to the model
        and returns (file text, keys whose last event here was a PUT,
        every key the file touches)."""
        rng = self.rng
        recs, touched, last_put = [], [], {}
        for _ in range(n_records):
            r = rng.random()
            if touched and r < 0.10:
                key = touched[int(rng.integers(len(touched)))]
                op = "put" if rng.random() < 0.7 else "delete"
            elif r < 0.62 or not self.live_list:
                key, op = self.live_list[int(rng.integers(len(self.live_list)))], "put"
            elif r < 0.81 and self.next_new < len(self.keys):
                key, op = self.keys[self.next_new], "put"
                self.next_new += 1
            else:
                key, op = self.live_list[int(rng.integers(len(self.live_list)))], "delete"
            self.clock += dt.timedelta(milliseconds=1)
            self.rev += 1
            when = self.clock.strftime("%Y-%m-%dT%H:%M:%S.") + f"{self.clock.microsecond // 1000:03d}Z"
            obj = {"key": key}
            if op == "put":
                tags = {"color": COLORS[int(rng.integers(len(COLORS)))], "rev": str(self.rev)}
                obj["tags"] = tags
                self._put(key, tags)
                last_put[key] = True
            else:
                self._delete(key)
                last_put[key] = False
            recs.append({
                "eventName": "ObjectCreated:Put" if op == "put" else "ObjectRemoved:Delete",
                "eventTime": when,
                "s3": {"bucket": {"name": self.BUCKET}, "object": obj},
            })
            touched.append(key)
        lines, i = [], 0
        while i < len(recs):
            n = 1 if rng.random() < 0.7 else int(rng.integers(2, 4))
            lines.append(json.dumps({"Records": recs[i:i + n]}))
            i += n
        return ("\n".join(lines) + "\n", [k for k, put in last_put.items() if put],
                list(last_put))
