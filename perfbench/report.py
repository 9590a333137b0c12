"""Turn a run's measurements into the printed summary and the result
line (the last line of stdout)."""

from __future__ import annotations

import statistics
import sys
from dataclasses import dataclass

from .harness import Iteration, check_metric_names, median, result_line
from .workloads import PER_LAYER

END_TO_END_UNITS = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "pairwise_precision": "ratio",
    "pairwise_recall": "ratio",
    "pairwise_f1": "ratio",
}


@dataclass
class Setup:
    session_s: float
    gen_s: list[float]  # one per repetition of input generation
    warm_s: float

    @property
    def total_s(self) -> float:
        return self.session_s + statistics.median(self.gen_s) + self.warm_s


def _quartiles(values: list[float]) -> str:
    if len(values) < 2:
        return ""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f" q1={q1:.4g} q3={q3:.4g}"


def emit(wl, args, cores: int, setup: Setup, iterations: list[Iteration], layers) -> int:
    attempts = [a for it in iterations for a in it.attempts] + wl.traced
    failed = [a for a in attempts if not a.ok]
    check_failed = [a for a in failed if a.problems]
    ok_its = [it for it in iterations if all(a.ok for a in it.attempts)]
    rate = [it.records / it.wall_s for it in iterations]
    cpu = [it.cpu_s for it in ok_its]
    p, r, f1 = wl.quality() if wl.outcomes else (0.0, 0.0, 0.0)
    samples = {
        "setup_s": [setup.total_s],
        "records_per_s": rate,
        "cpu_s": cpu,
        "peak_rss_mb": [it.peak_rss_mb for it in iterations],
    }
    e2e = {
        "setup_s": setup.total_s,
        "records_per_s": median(rate),
        "cpu_s": median(cpu),
        "peak_rss_mb": max(samples["peak_rss_mb"]),
        "pairwise_precision": p,
        "pairwise_recall": r,
        "pairwise_f1": f1,
    }
    out = sys.stdout
    print(f"# workload={wl.name} seed={args.seed} cores={cores} seconds={args.seconds:g} "
          f"trace={args.trace}", file=out)
    print(f"# setup: session {setup.session_s:.3f}s, inputs median of "
          f"{len(setup.gen_s)} {statistics.median(setup.gen_s):.3f}s "
          f"({', '.join(f'{g:.3f}' for g in setup.gen_s)}), warm-up {setup.warm_s:.3f}s", file=out)
    for i, it in enumerate(iterations):
        print(f"# iteration {i}: wall {it.wall_s:.3f}s cpu {it.cpu_s:.2f}s (sampler {it.sampler_cpu_s:.2f}s) "
              f"rss {it.peak_rss_mb:.0f}MB "
              f"steal {it.steal_pct:.2f}% load {it.load_1m:.2f} processes {it.processes} "
              + " ".join(f"{a.name}={a.wall_s:.3f}s{'' if a.ok else '(FAILED)'}" for a in it.attempts),
              file=out)
    for a in failed:
        print(f"# failed {a.name}: {a.error or ' | '.join(a.problems)}", file=out)
    for name, unit in END_TO_END_UNITS.items():
        n = len(samples.get(name, wl.outcomes))
        print(f"{wl.name} {name} = {e2e[name]:.6g} {unit} (n={n}"
              f"{_quartiles(samples.get(name, []))})", file=out)
    print(f"{wl.name} failure_ratio = {len(failed) / max(len(attempts), 1):.6g} ratio "
          f"(failed {len(failed)} of {len(attempts)} operations)", file=out)
    if wl.outcomes:
        print(f"# output digest {wl.outcomes[0].digest}", file=out)

    if layers is None:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    else:
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
        for k, (v, u) in metrics.items():
            print(f"{wl.name} {k} = {v:.6g} {u}", file=out)
    bad = check_metric_names(metrics)
    if bad:
        raise ValueError(f"invalid metric names {bad}")
    correct = bool(wl.outcomes) and not check_failed
    print(result_line(correct, len(attempts), len(failed), metrics), file=out)
    out.flush()
    return 0 if correct else 1
