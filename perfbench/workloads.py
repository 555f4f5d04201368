"""The benchmark's workloads: which registry entries run, on which inputs."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    size: str  # a directory of shipped tables under tables/
    # length of one warm pass on the reference box (README): a run makes
    # round(--seconds / pass_s) timed passes, the same count on every run
    pass_s: float
    stream: bool = False  # every op drains a bounded stream

    def timed_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_batch",
            (
                "tpch_q1",
                "tpch_q3",
                "tpch_q5",
                "tpch_q9",
                "tpch_q18",
                "tpch_q21",
                "nexmark_native_q4",
                "session_window_by_key",
            ),
            "sf0.1",
            2.7,
        ),
        Workload(
            "stream_drain",
            (
                "streaming_session_native",
                "streaming_stateful_running_count",
                "streaming_stream_stream_join",
                "streaming_kafka_wire_decode",
                "streaming_nexmark_native_q7",
                "streaming_q5_foreachbatch",
            ),
            "sf0.1",
            3.5,
            stream=True,
        ),
    )
}

# NEXMark/YSB stream length in events (the generators read it at import)
NEXMARK_EVENTS = 50_000
SELF_CHECK_SIZE = "sf0.001"
SELF_CHECK_NEXMARK_EVENTS = 5_000
