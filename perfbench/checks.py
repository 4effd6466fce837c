"""Result checks: every op's output against the oracle's model.

Works on collected rows (anything indexable by column name) and on the
engine's write results (objects with ``inserted``/``updated`` or
``deleted_count``), so it needs no Spark and the self-test can feed it
hand-made results.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Optional

import numpy as np

import gen
import oracle as O


def _meta(row) -> dict:
    return {k: mv["s"] for k, mv in (row["meta"] or {}).items()}


class Checker:
    def __init__(self, wl: gen.Workload):
        self.wl = wl
        self.recall_hits = 0.0
        self.recall_total = 0
        self.text_id = {}
        if wl.ai is not None:
            self.text_id = {m["_ahnlich_input_key"]: i for i, (_k, m) in wl.ai.rows.items()}

    def recall(self) -> Optional[float]:
        return self.recall_hits / self.recall_total if self.recall_total else None

    def check(self, op: gen.Op, out) -> Optional[str]:
        """None when ``out`` is the right answer to ``op``, else why not."""
        a, k = op.args, op.kind
        model = self.wl.ann if k == "ann" and self.wl.ann is not None else self.wl.store
        if k in ("set", "upsert"):
            got = (out.inserted, out.updated)
            want = (op.expect["inserted"], op.expect["updated"])
            return None if got == want else f"{k} reported {got}, expected {want}"
        if k == "delkey":
            want = op.expect["deleted"]
            return None if out.deleted_count == want else (
                f"delkey reported {out.deleted_count}, expected {want}")
        if k == "getkey":
            keys = a["keys"] if "keys" in a else a["vec"][None]
            want = {int(i): model.rows[int(i)] for i in O.key_ids(keys)}
            got = {r["id"]: r for r in out}
            if len(got) != len(out) or set(got) != set(want):
                return f"getkey returned ids {sorted(got)}, expected {sorted(want)}"
            for i, r in got.items():
                if (np.asarray(r["key"], np.float32) != want[i][0]).any() \
                        or _meta(r) != want[i][1]:
                    return f"getkey row {i} differs from what was written"
            return None
        if k == "getpred":
            want = {i for i, (_v, m) in model.rows.items() if m["cat"] == a["cat"]}
            got = [r["id"] for r in out]
            if len(got) != len(set(got)) or set(got) != want:
                return f"getpred returned {len(got)} rows, expected {len(want)}"
            return None
        if k == "ai_simn":
            ids, keys = self.wl.ai.arrays()
            s = O.scores(keys, O.stub_embed(a["text"], gen.AI_DIM), O.COSINE)
            try:
                got_ids = [self.text_id[r["input"]["s"]] for r in out]
            except KeyError as e:
                return f"ai_simn returned an input that was never stored: {e}"
            return O.check_topk(got_ids, [r["similarity"] for r in out], ids, s,
                                O.COSINE, gen.K)
        ids, keys = model.arrays()
        if k == "simn_where":
            sel = np.array([model.rows[int(i)][1]["cat"] == a["cat"] for i in ids])
            ids, keys = ids[sel], keys[sel]
        if k in ("batch_ann", "batch_exact"):
            by_q = defaultdict(list)
            for r in out:
                by_q[r["qid"]].append(r)
            if set(by_q) != set(range(len(a["probes"]))):
                return f"batch answered probes {sorted(by_q)}"
            for q, v in enumerate(a["probes"]):
                rows = sorted(by_q[q], key=lambda r: r["rank_n"])
                err = self._topk(k == "batch_exact", rows, ids, keys, v, O.COSINE)
                if err:
                    return f"probe {q}: {err}"
            return None
        metric = O.EUCLIDEAN if k == "exact_euc" else O.COSINE
        return self._topk(k != "ann", out, ids, keys, a["vec"], metric)

    def _topk(self, exact, rows, ids, keys, probe, metric) -> Optional[str]:
        s = O.scores(keys, probe, metric)
        got = [r["id"] for r in rows]
        err = O.check_topk(got, [r["similarity"] for r in rows], ids, s, metric, gen.K,
                           exact=exact)
        if not exact:  # approximate: valid rows, scored by the recall oracle
            self.recall_hits += O.recall(got, ids, s, metric, gen.K) * gen.K
            self.recall_total += gen.K
        return err
