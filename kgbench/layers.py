"""Per-layer metrics from the spans of traced passes.

A metric is `<module>.<function>.<metric>`: the span name without its
package-level prefix (`operators.`, `sources.`, `plans.`), so every
name fits in 64 characters.  A layer a workload does not run reports
0 (e.g. no classify_pages on entity_zipf).  Each value is the median
over the traced passes of a run.
"""

from __future__ import annotations

import statistics

# span name -> the spans whose rows_out are this layer's rows_in
# (None: rows_in is what the span recorded itself, else the rows its
# own scans read)
LAYERS = {
    "sources.pages.read_pages": None,
    "plans.pipeline.classify_pages": None,
    "sources.discord_export.read_discord_export_repaired": None,
    "operators.classify.with_type": [
        "sources.discord_export.read_discord_export_repaired"],
    "operators.extract.extract_triples": [
        "plans.pipeline.classify_pages", "operators.classify.with_type"],
    "operators.link.link_qa": [
        "plans.pipeline.classify_pages", "operators.classify.with_type"],
    "operators.dedup.aggregate_triples": [
        "operators.extract.extract_triples", "operators.link.link_qa"],
    "operators.entity.extract_mentions": None,
    "operators.entity.lsh_candidate_pairs_banded": [
        "operators.entity.extract_mentions"],
    "operators.entity.score_pairs": [
        "operators.entity.lsh_candidate_pairs_banded"],
    "operators.entity.canonicalize": ["operators.entity.score_pairs"],
    "operators.graph.write_graph": ["operators.entity.canonicalize"],
}
ENTITY_SPANS = [s for s in LAYERS if s.startswith("operators.entity.")]


def short(span: str) -> str:
    return span.split(".", 1)[1]


def _one_pass(spans: list[dict], untraced_wall: float) -> dict:
    by_name = {s["name"]: s for s in spans}
    out: dict[str, float] = {}

    def rows_out(name: str) -> float:
        s = by_name.get(name)
        if s is None:
            return 0.0
        if "rows_out" in s["counts"]:
            return float(s["counts"]["rows_out"])
        sp = s["spark"]
        # a noop sink records no output rows: its rows are what it read
        return sp["output_records"] or sp["input_records"]

    for name, upstream in LAYERS.items():
        s = by_name.get(name)
        sp = s["spark"] if s else {}
        p = short(name)
        out[f"{p}.wall_s"] = s["wall_s"] if s else 0.0
        out[f"{p}.self_s"] = s["self_s"] if s else 0.0
        for k in ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "input_bytes",
                  "output_bytes"):
            out[f"{p}.{k}"] = sp.get(k, 0.0)
        out[f"{p}.rows_out"] = rows_out(name)
        if upstream is not None:
            out[f"{p}.rows_in"] = sum(rows_out(u) for u in upstream)
        elif s is not None and "rows_in" in s["counts"]:
            out[f"{p}.rows_in"] = float(s["counts"]["rows_in"])
        else:
            out[f"{p}.rows_in"] = sp.get("input_records", 0.0)
        for k in ("arrow_bytes_to_python", "arrow_bytes_from_python",
                  "shuffled_hash_joins", "sort_merge_joins",
                  "broadcast_hash_joins", "exchanges"):
            out[f"{p}.{k}"] = sp.get(k, 0)

    cp = "pipeline.classify_pages"
    out[f"{cp}.p5_empty_dropped"] = (out[f"{cp}.rows_in"]
                                     - out[f"{cp}.rows_out"])
    agg = "dedup.aggregate_triples"
    out["dedup.kept_ratio"] = (out[f"{agg}.rows_out"] / out[f"{agg}.rows_in"]
                               if out[f"{agg}.rows_in"] else 0.0)
    lsh = "entity.lsh_candidate_pairs_banded"
    out["lsh.precision"] = (out["entity.score_pairs.rows_out"]
                            / out[f"{lsh}.rows_out"]
                            if out[f"{lsh}.rows_out"] else 0.0)
    canon = by_name.get("operators.entity.canonicalize")
    for k in ("cc_rounds", "residual_edges"):
        out[f"entity.canonicalize.{k}"] = (
            float(canon["counts"][k]) if canon else 0.0)
    for k in ("shuffled_hash_joins", "sort_merge_joins",
              "broadcast_hash_joins", "exchanges"):
        out[f"entity.joins.{k}"] = sum(
            by_name[s]["spark"][k] for s in ENTITY_SPANS if s in by_name)
    root = by_name["pass"]
    out["trace.overhead_s"] = root["wall_s"] - untraced_wall
    out["trace.tasks_failed"] = sum(
        s["spark"]["tasks_failed"] for s in spans if s["name"] != "pass")
    return out


def per_layer(traced_passes: list[dict], untraced_wall: float) -> dict:
    """Median over traced passes of every per-layer value."""
    each = [_one_pass(p["spans"], untraced_wall) for p in traced_passes]
    return {k: statistics.median(d[k] for d in each) for k in each[0]}
