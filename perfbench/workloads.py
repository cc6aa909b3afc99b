"""The benchmark's workloads: fixed-order lists of public catalog entries,
each run closed-loop from one process on inputs generated from the seed.

The lists are trimmed to what fits the benchmark's time budget on a
4-core host (one pass of a few seconds at bench scale, after a warm-up
pass on the fixture); README.md records what each workload leaves out.
"""

from __future__ import annotations

from dataclasses import dataclass

from .inputs import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: tuple[str, ...]
    sizes: Sizes
    #: the input table whose rows ``work_per_s`` counts
    work_table: str
    #: entries whose result is written through sources.sinks.overwrite_partitions
    sink_entries: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sweep_eval",
            why="the paper's batch job on bars: a 1,008-config sweep written as a "
            "result table, then the champion-trade evaluation chain; never "
            "touches the text operators",
            entries=(
                "sweep_gen500_1008cfg",
                "cpcv_pbo",
                "eval_ou_calibration",
            ),
            sizes=Sizes(events=4000, symbols=4, docs=50, vecs=50, dup_share=0.1),
            work_table="events",
            sink_entries=("sweep_gen500_1008cfg",),
        ),
        Workload(
            name="corpus",
            why="LLM-data operators on a corpus with 10% tiled verbatim copies: "
            "pair generation and Arrow kernels; reads no bars",
            entries=("decontamination_overlap", "dedup_neardup_pairs"),
            sizes=Sizes(events=200, symbols=2, docs=600, vecs=600, dup_share=0.1),
            work_table="documents",
        ),
    )
}
