"""Spatial-weights file IO — pysal GAL adjacency format.

Reference semantics: ``[R] gaia/geo/geo_inputs.py :: WeightFileIO`` loads a
pysal ``.gal`` file for AutocorrelationProcess / WeightProcess. The GAL
text format::

    <n>                  (optionally "0 <n> <var> <unknown>" header)
    <id> <k>
    <n1> <n2> ... <nk>
    <id> <k>
    ...

Weights layers are tiny (one row per zone/cell adjacency — the broadcast
side of every statistic here), so parse/serialize run driver-side and the
result is returned as the (cell, neighbor, w) DataFrame every stats
operator consumes. Ids are integers in this engine (cell/zone ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gaia_spark.session import local_df


def read_gal(spark: SparkSession, path: str) -> DataFrame:
    """Parse a .gal file into the (cell, neighbor, w=1.0) adjacency shape."""
    with open(path) as f:
        tokens_by_line = [ln.split() for ln in f if ln.strip()]
    header = tokens_by_line[0]
    # pysal writes either "<n>" or "0 <n> <var> <key>"; both start the body
    # at line 1
    n_expected = int(header[1] if len(header) == 4 else header[0])
    rows = []
    i = 1
    seen = 0
    while i < len(tokens_by_line):
        ident, k = int(tokens_by_line[i][0]), int(tokens_by_line[i][1])
        if k > 0 and i + 1 >= len(tokens_by_line):
            raise ValueError(
                f"GAL parse error at id {ident}: declared {k} neighbors "
                "but the file ends before the neighbor line"
            )
        nbrs = [int(t) for t in tokens_by_line[i + 1]] if k > 0 else []
        if len(nbrs) != k:
            raise ValueError(
                f"GAL parse error at id {ident}: declared {k} neighbors, "
                f"found {len(nbrs)}"
            )
        for nb in nbrs:
            rows.append((ident, nb, 1.0))
        seen += 1
        i += 2 if k > 0 else 1
    if seen != n_expected:
        raise ValueError(f"GAL header declares {n_expected} ids, parsed {seen}")
    return local_df(spark, rows, "cell long, neighbor long, w double")


def write_gal(weights: DataFrame, path: str) -> None:
    """Serialize a (cell, neighbor, w) adjacency DataFrame to .gal.

    Isolated ids (if any appear only as neighbors) still get an entry with
    k=0 so the file round-trips the full id universe."""
    adj: dict[int, list[int]] = {}
    ids = set()
    for r in weights.select("cell", "neighbor").collect():
        adj.setdefault(int(r.cell), []).append(int(r.neighbor))
        ids.add(int(r.cell))
        ids.add(int(r.neighbor))
    with open(path, "w") as f:
        f.write(f"{len(ids)}\n")
        for ident in sorted(ids):
            nbrs = sorted(adj.get(ident, []))
            f.write(f"{ident} {len(nbrs)}\n")
            if nbrs:
                f.write(" ".join(str(x) for x in nbrs) + "\n")
