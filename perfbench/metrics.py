"""Turns the raw record of one JVM run into the benchmark's metrics."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Returns {span id: self ms}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def layer_self_s(spans):
    """Summed self time per layer, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1e3
    return out


def gap_s(spans, root):
    """Wall time of span `root` during which none of its stages ran."""
    by_id = {s["id"]: s for s in spans}

    def under(s):
        while s["parent"] in by_id:
            if s["parent"] == root:
                return True
            s = by_id[s["parent"]]
        return False

    r = by_id[root]
    stages = [(s["start_ms"], s["end_ms"]) for s in spans if s["layer"] == "stage" and under(s)]
    return ((r["end_ms"] - r["start_ms"]) - covered(stages, r["start_ms"], r["end_ms"])) / 1e3


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(raw):
    """Medians over the run's passes. Query latency is summarised per query
    (its median over the passes), then across the workload's distinct
    queries by their geometric mean: the median of the pooled samples would
    jump between neighbouring queries of different cost from run to run.
    """
    passes = raw["passes"]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            if q["ok"]:
                per_query.setdefault(q["name"], []).append(q["latency_s"])
    query_median_s = {k: median(v) for k, v in sorted(per_query.items())}
    values = {
        "setup_s": median(raw["setups_s"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        "rows_per_s": median([p["input_rows"] / p["wall_s"] for p in passes]),
        "query_geomean_s": geomean(query_median_s.values()) if query_median_s else float("nan"),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    return values, {"query_median_s": query_median_s}


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    values = {k: median([p["layer"][k] for p in traced]) for k in traced[0]["layer"]}
    values["driver.gap_s"] = median([gap_s(raw["spans"], p["span"]) for p in traced])
    values["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                  - median([p["wall_s"] for p in plain]))
    values.update({k: v for k, v in raw["probes"].items() if k != "kernel_sink"})
    return values


def verdict(raw):
    """(correct, attempted, failed). Every query the run executed counts as
    attempted, warm-up passes included; one that threw or returned the
    wrong output counts as failed, and a single failure makes the run
    incorrect.
    """
    attempted, failed = raw["attempted"], raw["failed"]
    return failed == 0 and attempted > 0, attempted, failed
