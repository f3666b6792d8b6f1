"""The benchmark's workloads: which registry queries run, on what inputs.

Each workload is a closed loop with one client: a pass runs its queries one
after another, each forced end to end with the noop sink, and the next query
starts when the previous one finishes. ``spec`` sizes the generated inputs
(see ``gen.py``); the seed never changes it.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    spec: dict
    why: str
    # Untimed passes between set-up and the timed region. The JIT keeps
    # speeding short queries up for several passes after the cold one, and
    # CPU time spent compiling shows in ``cpu_s``: neardup's 3-s passes need
    # three to settle, while one more 9-s linkpred pass would not fit the
    # run's time budget.
    warmup_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "linkpred",
            ("p1_link_prediction", "p2_lsh_similarity"),
            {"docs": 800, "doc_copies": 1, "vecs": 0, "vec_copies": 1},
            "the paper's p1 (pair features, LR fit) and p2 (TF-IDF, MinHash-LSH join) on 800 "
            "generated documents, where the fit's per-iteration jobs and per-job costs dominate",
        ),
        Workload(
            "neardup",
            ("dedup_simhash", "embedding_topk_bruteforce"),
            {"docs": 400, "doc_copies": 5, "vecs": 400, "vec_copies": 5},
            "dedup and similarity operators on 400 docs and 400 vectors each copied 5 times "
            "(2,000 rows each): a simhash band join whose bucket cap binds, then exact top-k "
            "search",
            warmup_passes=3,
        ),
    )
}
