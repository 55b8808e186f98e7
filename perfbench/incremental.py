"""incremental: table_churn's CDC cycle, then corpus_stream's drain.

Both parts maintain state incrementally and are bound by fixed
per-action cost: tens of small Spark jobs per call. One client runs a
churn cycle and then drains one arrival file, and only then starts the
next op (closed loop). Sharing one JVM and one set-up between them
keeps a run short enough for the gate's run budget. The parts' inputs
are generated on two threads; builds, ops and checks stay on one,
because the engine's ``localCheckpoint`` reclamation assumes a single
thread creates checkpoints (``_ckpt``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor


class Incremental:
    name = "incremental"

    def __init__(self, parts: list):
        self.parts = parts

    def generate(self, root: str) -> str:
        with ThreadPoolExecutor(len(self.parts)) as pool:
            hashes = pool.map(lambda p: p.generate(f"{root}/{p.name}"), self.parts)
            return "|".join(hashes)

    def build(self, root: str) -> None:
        for p in self.parts:
            p.build(f"{root}/{p.name}")

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def op(self) -> dict:
        """The parts' op records merged; ``op_s`` and ``rows`` add up,
        and each part's own op time is kept as ``<part>_s``."""
        rec: dict = {"op_s": 0.0, "rows": 0}
        for p in self.parts:
            r = p.op()
            rec.update({k: v for k, v in r.items() if k not in ("op_s", "rows")})
            rec[f"{p.name}_s"] = r["op_s"]
            rec["op_s"] += r["op_s"]
            rec["rows"] += r["rows"]
        return rec

    def check(self) -> list[str]:
        return [f"{p.name}: {f}" for p in self.parts for f in p.check()]

    def layer_metrics(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics().items()}
