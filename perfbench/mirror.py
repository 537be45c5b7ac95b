"""A NumPy mirror of a VectorCollection's state, used to check its answers.

The mirror applies the same contract as the collection: vectors are stored
unit-normalized in float32 (norm taken in float64), an upsert replaces whole
rows and a repeated id inside one batch keeps its last row, a delete removes
ids, and a query scores with the float64 dot product of the stored float32
vector and the float64-normalized query, ranked by score descending and then
id ascending.
"""

from __future__ import annotations

import numpy as np

SCORE_TOL = 1e-5
# two mirror scores this close may legitimately rank either way
TIE_TOL = 1e-9


def normalize_rows(x: np.ndarray) -> np.ndarray:
    x64 = np.asarray(x, dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", x64, x64))
    return (x64 / norms[:, None]).astype(np.float32)


class CollectionMirror:
    def __init__(self, dim: int) -> None:
        self.dim = dim
        self.ids: list[str] = []
        self.pos: dict[str, int] = {}
        self.vec = np.zeros((0, dim), np.float32)
        self.cat = np.zeros(0, np.int64)
        self.live = np.zeros(0, bool)

    def __len__(self) -> int:
        return int(self.live.sum())

    def __contains__(self, i: str) -> bool:
        p = self.pos.get(i)
        return p is not None and bool(self.live[p])

    def upsert(self, ids: list[str], vectors: np.ndarray, cat: np.ndarray) -> dict[str, list[str]]:
        """Apply a batch; return the report the collection must give:
        ``updated``/``inserted`` ids in order of each id's last row."""
        last: dict[str, int] = {}
        for p, i in enumerate(ids):
            last[i] = p
        order = sorted(last, key=last.__getitem__)
        rows = np.array([last[i] for i in order], dtype=np.int64)
        normed = normalize_rows(np.asarray(vectors)[rows])
        updated = [i for i in order if i in self]
        inserted = [i for i in order if i not in self]
        new = [i for i in order if i not in self.pos]
        if new:
            base = len(self.ids)
            self.ids.extend(new)
            self.pos.update({i: base + k for k, i in enumerate(new)})
            grow = len(new)
            self.vec = np.vstack([self.vec, np.zeros((grow, self.dim), np.float32)])
            self.cat = np.concatenate([self.cat, np.zeros(grow, np.int64)])
            self.live = np.concatenate([self.live, np.zeros(grow, bool)])
        idx = np.array([self.pos[i] for i in order], dtype=np.int64)
        self.vec[idx] = normed
        self.cat[idx] = np.asarray(cat)[rows]
        self.live[idx] = True
        return {"updated": updated, "inserted": inserted}

    def delete(self, ids: list[str]) -> None:
        for i in ids:
            p = self.pos.get(i)
            if p is not None:
                self.live[p] = False

    def scores(self, query: np.ndarray) -> np.ndarray:
        q = np.asarray(query, dtype=np.float64)
        q = q / np.sqrt(q @ q)
        return self.vec.astype(np.float64) @ q

    def topk(
        self,
        query: np.ndarray,
        k: int,
        better_than: float | None = None,
        cat: int | None = None,
    ) -> list[tuple[str, float]]:
        s = self.scores(query)
        mask = self.live.copy()
        if cat is not None:
            mask &= self.cat == cat
        if better_than is not None:
            mask &= s >= better_than
        cand = np.flatnonzero(mask)
        ids = np.array(self.ids, dtype=object)[cand]
        order = sorted(range(len(cand)), key=lambda j: (-s[cand[j]], ids[j]))[:k]
        return [(ids[j], float(s[cand[j]])) for j in order]

    def check_topk(
        self,
        got: list[tuple[str, float]],
        query: np.ndarray,
        k: int,
        better_than: float | None = None,
        cat: int | None = None,
    ) -> str | None:
        """None when ``got`` (id, score) rows are a correct answer, else why not.

        Ids must equal the mirror's top-k in order; where they differ, the two
        ids' mirror scores must be tied within TIE_TOL. Each returned score
        must match the mirror's score of that id within SCORE_TOL."""
        want = self.topk(query, k, better_than, cat)
        if len(got) != len(want):
            return f"{len(got)} rows, expected {len(want)}"
        s = self.scores(query)
        for (gid, gscore), (wid, wscore) in zip(got, want):
            if gid not in self:
                return f"returned absent id {gid}"
            mine = s[self.pos[gid]]
            if abs(gscore - mine) > SCORE_TOL:
                return f"score of {gid}: {gscore} vs mirror {mine}"
            if gid != wid and abs(mine - wscore) > TIE_TOL:
                return f"ranked {gid} where mirror has {wid}"
            if cat is not None and self.cat[self.pos[gid]] != cat:
                return f"{gid} fails the filter"
        return None

    def check_get(self, requested: list[str], got: list[tuple[str, list[float]]]) -> str | None:
        """``get`` must return exactly the requested ids that are present,
        once each, with their stored vectors."""
        want = {i for i in requested if i in self}
        ids = [g[0] for g in got]
        if len(ids) != len(set(ids)) or set(ids) != want:
            return f"get returned {sorted(ids)[:5]}..., expected {sorted(want)[:5]}..."
        for i, v in got:
            if not np.allclose(np.asarray(v, np.float32), self.vec[self.pos[i]], atol=1e-6):
                return f"vector of {i} differs"
        return None
