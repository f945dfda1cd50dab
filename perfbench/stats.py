"""Pure helpers of the benchmark: order statistics, span self time, and
the attribution of Spark jobs and stages to spans by time window."""
import statistics


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them;
    a single value is its own quartiles."""
    values = list(values)
    if not values:
        return (0.0, 0.0, 0.0)
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q1, q2, q3)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Adds `self_ms` to each span dict: its duration minus the time covered
    by its children (overlapping children count once). Spans carry `id`,
    `parent` (an id or None), `start_ms` and `end_ms`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start_ms"], s["end_ms"])
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - covered
    return spans


def idle_core_frac(task_run_s, cores, wall_s):
    """Share of the cores' wall time no task ran: 1 - run / (cores * wall)."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return 1.0 - task_run_s / (cores * wall_s)


def stage_windows(call_start_ms, report):
    """Stage spans of one pipeline call, rebuilt from its (stage, seconds)
    report: the stages run one after another from the call's start, so
    each window starts where the previous one ended."""
    t, out = call_start_ms, []
    for row in report:
        end = t + row["seconds"] * 1000.0
        out.append((row["stage"], t, end))
        t = end
    return out


def innermost(spans, t_ms):
    """The shortest span containing time t_ms, or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms < s["end_ms"]:
            if best is None or s["end_ms"] - s["start_ms"] < best["end_ms"] - best["start_ms"]:
                best = s
    return best
