"""Independent reference model of the ``acid_rw`` operation sequence.

The model holds the table as a plain ``{id: (grp, val)}`` dict and
replays every write the workload commits, in the same order, with the
semantics the engine documents:

- ``append`` inserts new keys;
- ``merge`` (``cdf=True``) and ``sql_merge`` are the canonical upsert:
  matched keys take the source row, unmatched source keys insert;
- ``update`` applies ``val = val + 1`` to every row of one group;
- ``delete`` removes the rows of one group below a value threshold;
- ``optimize`` and property changes commit a version that changes no
  row.

After each commit it keeps the version's summary (row count, sum of
``val``, sum of ``id * val``) for time-travel checks, and the change
counts a ``table_changes`` read must return for that version: precise
update pre/post images for ``merge(cdf=True)``, and delete+insert pairs
for commits that carry no change sidecar (the derived change set).
Nothing here touches Spark.
"""

from __future__ import annotations

from collections import Counter


class AcidModel:
    def __init__(self, rows: dict[int, tuple[int, int]], version: int):
        self.rows = dict(rows)
        self.version = version
        self.summaries: dict[int, tuple[int, int, int]] = {version: self.summary()}
        self.changes: dict[int, Counter] = {version: Counter(insert=len(rows))}

    def summary(self) -> tuple[int, int, int]:
        """(row count, sum of val, sum of id * val) of the current state."""
        return (
            len(self.rows),
            sum(v for _, v in self.rows.values()),
            sum(k * v for k, (_, v) in self.rows.items()),
        )

    def group_aggregate(self) -> dict[int, tuple[int, int]]:
        """{grp: (row count, sum of val)} of the current state."""
        out: dict[int, list[int]] = {}
        for g, v in self.rows.values():
            acc = out.setdefault(g, [0, 0])
            acc[0] += 1
            acc[1] += v
        return {g: (n, s) for g, (n, s) in out.items()}

    def _commit(self, version: int, changes: Counter) -> None:
        if version != self.version + 1:
            raise ValueError(f"model at v{self.version} cannot commit v{version}")
        self.version = version
        self.summaries[version] = self.summary()
        self.changes[version] = +changes  # drop zero counts

    def append(self, version: int, new: dict[int, tuple[int, int]]) -> None:
        clash = self.rows.keys() & new.keys()
        if clash:
            raise ValueError(f"append of existing keys {sorted(clash)[:5]}")
        self.rows.update(new)
        self._commit(version, Counter(insert=len(new)))

    def _upsert(self, src: dict[int, tuple[int, int]]) -> tuple[int, int]:
        matched = sum(1 for k in src if k in self.rows)
        self.rows.update(src)
        return matched, len(src) - matched

    def merge_cdf(self, version: int, src: dict[int, tuple[int, int]]) -> None:
        m, k = self._upsert(src)
        self._commit(
            version, Counter(update_preimage=m, update_postimage=m, insert=k)
        )

    def sql_merge(self, version: int, src: dict[int, tuple[int, int]]) -> None:
        m, k = self._upsert(src)
        self._commit(version, Counter(delete=m, insert=m + k))

    def update_group(self, version: int, grp: int) -> None:
        hit = [k for k, (g, _) in self.rows.items() if g == grp]
        for k in hit:
            g, v = self.rows[k]
            self.rows[k] = (g, v + 1)
        self._commit(version, Counter(delete=len(hit), insert=len(hit)))

    def delete_where(self, version: int, grp: int, below: int) -> None:
        hit = [k for k, (g, v) in self.rows.items() if g == grp and v < below]
        for k in hit:
            del self.rows[k]
        self._commit(version, Counter(delete=len(hit)))

    def no_change(self, version: int) -> None:
        self._commit(version, Counter())

    def expected_changes(self, start: int, end: int) -> dict[tuple[int, str], int]:
        """{(commit version, change type): rows} over ``[start, end]``."""
        return {
            (v, kind): n
            for v in range(start, end + 1)
            for kind, n in self.changes[v].items()
        }
