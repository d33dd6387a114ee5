"""In-process recording transport for `graph_sink.write_graph`.

Each executor-side transport appends one JSON line per send attempt to its
own file under `out_dir`: the statement's label or relation type, the keys
sent and whether the attempt succeeded. A seeded ~2% of attempts raise
`TransientSinkError`, so the sink's retry path runs. The benchmark reads
the files back (`read_sends`): they are both the gate's record of every key
the store saw and the sink's per-layer counts (a counter captured in a
closure would read 0 here, because sends run in Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid
import zlib

FAIL_EVERY = 50  # ~2% of send attempts fail transiently

_LABEL = re.compile(r"MERGE \(n:(\w+)|\[r:(\w+)\]")


def transport_factory(out_dir: str, seed: int, transient_error: type):
    """Return a zero-argument factory of `send(statement, rows)` callables."""

    def factory():
        path = os.path.join(out_dir, f"{uuid.uuid4().hex}.jsonl")
        attempts: dict[tuple, int] = {}

        def send(statement: str, rows: list[dict]) -> None:
            m = _LABEL.search(statement)
            kind = m.group(1) or m.group(2)
            keys = [r["node_id"] if "node_id" in r else [r["src"], r["dst"]] for r in rows]
            ident = (kind, json.dumps(keys[0]))
            n = attempts.get(ident, 0)
            attempts[ident] = n + 1
            ok = zlib.crc32(f"{seed}|{ident}|{n}".encode()) % FAIL_EVERY != 0
            with open(path, "a") as f:
                f.write(json.dumps({"kind": kind, "keys": keys, "ok": ok}) + "\n")
            if not ok:
                raise transient_error(f"seeded transient failure on {kind}")

        return send

    return factory


def read_sends(out_dir: str) -> list[dict]:
    sends = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.jsonl"))):
        with open(path) as f:
            sends += [json.loads(line) for line in f]
    return sends


def merged_keys(sends: list[dict]) -> dict[str, set]:
    """{label or rel_type: keys the store merged}, from successful sends."""
    out: dict[str, set] = {}
    for s in sends:
        if s["ok"]:
            out.setdefault(s["kind"], set()).update(
                tuple(k) if isinstance(k, list) else k for k in s["keys"]
            )
    return out
