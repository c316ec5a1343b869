"""The benchmark's workloads: which catalog queries run, at which scale.

Query names are ``ezdata_spark.queries.QUERIES`` keys.  Each workload
stresses a different part of a query's wall time; ``why`` says which.
The lists are cut to what fits the benchmark's run length: a cold
checking pass, a warm pass and a few timed passes in about a minute
on 4 cores.
"""

from __future__ import annotations

from dataclasses import dataclass

SMOKE_SF = "sf0.001"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    queries: tuple[str, ...]
    why: str
    pass_s: float  # a warm pass on the 4-core reference host, in seconds

    def passes(self, seconds: float) -> int:
        """Timed passes for a run of about ``seconds`` on the reference
        host: fixed work, so the sample count (and with it the tail
        percentile) does not move when the program gets faster."""
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "interactive",
            "sf0.01",
            (
                # the reference basket
                "q01_selectwhere", "q02_evalexpr", "q13_groupby_pricing", "q21_join_multihop",
                # short headline and core queries
                "q15_stats_table", "q38_crossmatch_cone",
                # queries that start eager jobs while they are built
                "q59a_heavy_hitters", "q122_skyline", "q149_classifier_auc",
                # write-then-read through the native file sinks
                "q97_fits_roundtrip", "q98_hdf5_roundtrip", "q99_votable_roundtrip",
            ),
            "sf0.01 short queries and small file round trips: wall time is fixed cost (Python build, Catalyst, eager jobs)",
            7.0,
        ),
        Workload(
            "corpus",
            "sf0.01",
            (
                "q132_trigram_similarity", "q86_decontaminate", "q74_minhash_neardup",
                "z159_bpe_tokenizer_reload",
            ),
            "LLM-pipeline queries whose final action dominates: shuffles, cached frames, Arrow/Python workers, a tokenizer artifact",
            5.5,
        ),
    )
}
