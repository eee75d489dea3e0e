"""The benchmark's workloads: which catalog queries run, in which order,
on which generated inputs, and how many passes over them one run makes.

The pass count is fixed per workload, so every run of a workload does
the same work, whatever the speed of the code under test. The reason
for each workload is in BENCHMARK.json and perfbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # catalog short names ("q23"), in run order
    passes: int
    docs: int
    doc_files: int = 1

    def catalog_names(self, queries: dict) -> list[str]:
        by_short = {n.split("_", 1)[0]: n for n in queries}
        return [by_short[s] for s in self.queries]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "snapshot_etl",
            tuple("q03 q04 q07 q12 q25 q71 q133".split()),
            passes=4,
            docs=5000,
        ),
        # The curation path and the driver-side round loops share one run:
        # a run of each alone is too short to average out the host's
        # speed drift, and one cold set-up fewer leaves time for the work.
        Workload(
            "training_data",
            tuple("q23 q20 q38 q235 q315 q143".split()),
            passes=1,
            docs=12_000,
            doc_files=4,
        ),
    )
}
