"""Golden fixture graphs from the reference test suite.

Edge lists verbatim from /root/reference:
- pagerank/Test/PageRankGraphs.hs:9-86
- graphcoloring/Test/ColoringGraphs.hs:9-96
- internalutil/Test/Graphs.hs

Vertex-id space is dense ``0..max(id)`` (parser contract,
internalutil/Test/Data/Graph/TestGraphParser.hs:26-31); self-loops are
dropped at parse time (EdgeArray.hs:73,84-85) but are kept here verbatim so
the loader's self-loop filter is itself under test.
"""

from __future__ import annotations

import numpy as np

FIXTURE_EDGES: dict[str, list[tuple[int, int]]] = {
    "singleEdge": [(0, 1)],
    "simpleGraphOneNodeMissing": [(1, 2)],
    "doubleSquare": [
        (0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (1, 5),
        (2, 6), (3, 7), (4, 5), (4, 6), (5, 7), (6, 7),
    ],
    "doubleSquareReversed": [
        (1, 0), (2, 0), (3, 1), (3, 2), (4, 0), (5, 1),
        (6, 2), (7, 3), (5, 4), (6, 4), (7, 5), (7, 6),
    ],
    "square": [(0, 1), (1, 2), (2, 3), (0, 3)],
    "hub": [(0, 1), (0, 2), (0, 3)],
    "complete": [(i, j) for i in range(5) for j in range(5) if i < j],
    "myFavorite": [
        (0, 1), (0, 3), (1, 2), (1, 3), (2, 3), (2, 5), (2, 4), (3, 4), (4, 5),
    ],
    "princeton": [(0, 1), (0, 2), (2, 0), (1, 2), (3, 2)],
    "sinkAndSource": [(0, 1), (1, 2)],
    "bigNumbers": [(4, 5), (5, 6), (6, 7), (4, 7)],
    "edgeToSelf": [(0, 0), (1, 2)],
}

# Graphs the PageRank suites run on (pagerank/Test/TestMain.hs:17-30).
PAGERANK_FIXTURES = [
    "singleEdge", "simpleGraphOneNodeMissing", "doubleSquare",
    "doubleSquareReversed", "square", "hub", "complete", "myFavorite",
    "princeton",
]

# Exact greedy-coloring goldens (TestGraphColoring.hs:75-101). Speculative
# (nonDet) coloring converges to the same vectors (TestGraphColoringNonDet.hs).
GREEDY_COLORING_GOLDEN: dict[str, list[int]] = {
    "singleEdge": [1, 2],
    "square": [1, 2, 1, 2],
    "doubleSquare": [1, 2, 2, 1, 2, 1, 1, 2],
    "doubleSquareReversed": [1, 2, 2, 1, 2, 1, 1, 2],
    "hub": [1, 2, 2, 2],
    "complete": [1, 2, 3, 4, 5],
    "myFavorite": [1, 2, 1, 3, 2, 3],
}

# Jones-Plassmann goldens given explicit priority vectors
# (TestGraphColoring.hs:43-73). Tie-break: equal priority -> lower id is the
# predecessor (GraphColoring.hs:293-296).
JP_GOLDEN: list[tuple[str, list[int], list[int]]] = [
    ("simpleGraphOneNodeMissing", [1, 2, 3], [1, 1, 2]),
    ("simpleGraphOneNodeMissing", [1, 0, 2], [1, 1, 2]),
    ("square", [1, 2, 3, 4], [1, 2, 1, 2]),
    ("square", [1, 1, 1, 1], [1, 2, 1, 2]),
    ("doubleSquare", [1, 2, 3, 4, 5, 6, 7, 8], [1, 2, 2, 1, 2, 1, 1, 2]),
    ("doubleSquare", [8, 7, 6, 5, 4, 3, 2, 1], [2, 1, 1, 2, 1, 2, 2, 1]),
    ("doubleSquare", [3, 1, 1, 3, 5, 1, 5, 6], [2, 1, 1, 2, 1, 2, 2, 1]),
    ("doubleSquare", [1, 1, 1, 1, 1, 1, 1, 1], [1, 2, 2, 1, 2, 1, 1, 2]),
]

# Distance-2 coloring goldens on the merged (undirected) graph
# (TestGraphColoring2Dist.hs).
DIST2_GOLDEN: dict[str, list[int]] = {
    "square": [1, 2, 3, 4],
    "doubleSquare": [1, 2, 3, 4, 4, 3, 2, 1],
    "hub": [1, 2, 3, 4],
    "complete": [1, 2, 3, 4, 5],
    "myFavorite": [1, 2, 3, 4, 5, 1],
    "singleEdge": [1, 2],
}


def standin_pairs(name: str) -> list[tuple[int, int]]:
    """Seeded stand-ins for reference input files this repo does not ship:
    ``twoNodes`` (a 2-cycle); ``500nodes4color`` (4 out-edges per vertex,
    each joining different colours of ``id % 4``); ``rmat50k`` /
    ``rmat200k`` (R-MAT, a, b, c, d = .57, .19, .19, .05, over 2^14 / 2^16
    ids, self-loops and duplicates kept)."""
    rng = np.random.default_rng(0)
    if name == "twoNodes":
        return [(0, 1), (1, 0)]
    if name == "500nodes4color":
        src = np.repeat(np.arange(500), 4)
        k = rng.integers(1, 500, len(src))
        k += k % 4 == 0  # 4 | 500, so (u + k) % 500 keeps a colour apart
        dst = (src + k) % 500
    else:
        m, scale = {"rmat50k": (50_000, 14), "rmat200k": (200_000, 16)}[name]
        quad = rng.choice(4, size=(scale, m), p=[0.57, 0.19, 0.19, 0.05])
        bit = 1 << np.arange(scale)[:, None]
        src, dst = ((quad >> 1) * bit).sum(0), ((quad & 1) * bit).sum(0)
    return list(zip(src.tolist(), dst.tolist()))


def fixture_text(name: str, sep: str = " ") -> str:
    """Render a fixture, or else a stand-in, as reference edge-list text
    (one 'src dst' per line)."""
    pairs = FIXTURE_EDGES.get(name) or standin_pairs(name)
    return "".join(f"{s}{sep}{d}\n" for s, d in pairs)
