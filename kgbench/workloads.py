"""The three benchmark workloads: inputs, one untraced pass, one
traced pass.

Every workload is a closed loop: one client, one job chain at a time.
Inputs are a pure function of the seed and are made before anything
is timed.  The untraced pass composes the package's public entry
points exactly as a user would (for `pages_kg`, as bench.py's
`_graph_stage` does).  The traced pass calls the same layers one by
one and forces each layer's lazy output to parquet (or, for the
export door's in-memory hand-off, to the cache it uses) inside the
layer's span, and the next layer reads from there; timing the Python
call alone would only time plan construction.

pages_kg     write_pages_dist pages -> build_triples_from_path(stage_dir)
             -> triples parquet -> link_entities -> nodes/edges
entity_zipf  zipf_triples_df triples (materialized in set-up)
             -> link_entities -> nodes/edges
export_json  channel-export JSON with malformed messages
             -> build_triples_from_export(repair=True) -> triples parquet
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from typing import Callable

from project_discord_knowledge_graph_spark.operators import (
    classify, dedup, entity, extract, graph, link,
)
from project_discord_knowledge_graph_spark.plans import pipeline
from project_discord_knowledge_graph_spark.sources import (
    discord_export, pages, synth, synth_dist,
)

# Input sizes.  A pass of either workload is mostly the fixed cost of
# the pipeline's Spark jobs (about 46 jobs in a pages_kg pass): on 4
# cores a warm pages_kg pass takes 6.5-7.5 s at 20k pages and 7-8 s at
# 50k, an export_json pass 3.5-4.5 s at 60k messages and 4.5-5.5 s at
# 120k.  At 50k pages the classify UDF is clearly the largest
# triple-build layer (at 10k it was level with dedup).  The export is
# kept at 30k messages so that the warm-up passes and the timed passes
# of both benchmarked workloads fit the time a comparison may take
# (48 runs in 3420 s) on a busy host.
PAGES = 50_000
ZIPF_TRIPLES = 30_000
ZIPF_ENTITIES = 10_000
EXPORT_MESSAGES = 30_000
EXPORT_PER_FILE = 2_000
# share of export messages given one malformed field that
# repair_export_message normalizes
MALFORMED_SHARE = 0.05


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------- inputs

def export_documents(n: int, seed: int, per_file: int):
    """Discord channel-export documents built from synth.gen_messages,
    with a seeded share of the malformed shapes the repair door fixes
    (bare-string roles and mentions, non-object attachments and
    reactions)."""
    msgs = synth.gen_messages(n, seed=seed)
    rng = random.Random(f"{seed}:export")

    def export_msg(m: dict) -> dict:
        roles = [{"id": "r1", "name": "member"}] if rng.random() < 0.3 else []
        em = {"id": m["message_id"], "timestamp": m["timestamp"].isoformat(),
              "content": m["content"],
              "author": {"id": m["author"], "name": m["author"],
                         "isBot": False, "roles": roles},
              "mentions": [{"id": None, "name": x} for x in m["mentions"]]}
        if rng.random() < 0.1:
            em["attachments"] = [{"fileName": "chart.png",
                                  "url": "https://cdn.example/chart.png",
                                  "fileSizeBytes": rng.randrange(1 << 20)}]
        if rng.random() < 0.2:
            em["reactions"] = [{"emoji": {"name": "rocket"},
                                "count": rng.randrange(1, 9)}]
        if m["reply_to"]:
            em["reference"] = {"messageId": m["reply_to"]}
        if m["thread"]:
            em["thread"] = {"name": m["thread"]}
        if rng.random() < MALFORMED_SHARE:
            kind = rng.randrange(4)
            if kind == 0:
                em["author"]["roles"] = ["member", 7]
            elif kind == 1:
                em["mentions"] = [x["name"] for x in em["mentions"]] or [
                    m["author"]]
            elif kind == 2:
                em["attachments"] = ["chart.png", None]
            else:
                em["reactions"] = ["rocket"]
        return em

    for start in range(0, len(msgs), per_file):
        chunk = msgs[start:start + per_file]
        yield {"guild": {"id": "g1", "name": "bench"},
               "channel": {"id": f"c{start // per_file}",
                           "name": chunk[0]["channel"]},
               "messages": [export_msg(m) for m in chunk]}


def write_exports(path: str, n: int, seed: int) -> None:
    os.makedirs(path, exist_ok=True)
    for i, doc in enumerate(export_documents(n, seed, EXPORT_PER_FILE)):
        with open(os.path.join(path, f"export_{i:05d}.json"), "w") as f:
            json.dump(doc, f)


# ------------------------------------------------------- untraced passes

def _graph(spark, triples, out: str) -> None:
    cmap = entity.link_entities(triples).persist()
    try:
        graph.write_graph(graph.build_nodes(cmap),
                          graph.build_edges(triples, cmap),
                          f"{out}/graph")
    finally:
        cmap.unpersist()


def pages_kg_pass(spark, src: str, out: str) -> None:
    triples = pipeline.build_triples_from_path(
        spark, src, stage_dir=f"{out}/stage")
    _write(triples, f"{out}/triples")
    _graph(spark, spark.read.parquet(f"{out}/triples"), out)


def entity_zipf_pass(spark, src: str, out: str) -> None:
    _graph(spark, spark.read.parquet(src), out)


def export_json_pass(spark, src: str, out: str) -> None:
    _write(pipeline.build_triples_from_export(spark, src, repair=True),
           f"{out}/triples")


# --------------------------------------------------------- traced passes

def _traced_triples(spark, tr, messages, out: str) -> None:
    """extract -> link -> dedup, each forced to parquet in its span."""
    with tr.span("operators.extract.extract_triples"):
        _write(extract.extract_triples(messages), f"{out}/t_extracted")
    with tr.span("operators.link.link_qa"):
        _write(link.link_qa(messages), f"{out}/t_links")
    with tr.span("operators.dedup.aggregate_triples"):
        _write(dedup.aggregate_triples(
            spark.read.parquet(f"{out}/t_extracted"),
            spark.read.parquet(f"{out}/t_links")), f"{out}/triples")


def _traced_graph(spark, tr, triples, out: str) -> None:
    """link_entities split into its four steps, then write_graph."""
    n_triples = triples.count()  # the mention pass scans triples twice
    with tr.span("operators.entity.extract_mentions") as c:
        _write(entity.extract_mentions(triples), f"{out}/t_mentions")
        c["rows_in"] = n_triples
    mentions = spark.read.parquet(f"{out}/t_mentions")
    with tr.span("operators.entity.lsh_candidate_pairs_banded"):
        _write(entity.lsh_candidate_pairs_banded(mentions),
               f"{out}/t_candidates")
    with tr.span("operators.entity.score_pairs"):
        _write(entity.score_pairs(spark.read.parquet(f"{out}/t_candidates")),
               f"{out}/t_scored")
    with tr.span("operators.entity.canonicalize") as c:
        cmap, stats = entity.canonicalize(
            mentions, spark.read.parquet(f"{out}/t_scored"),
            return_stats=True)
        _write(cmap, f"{out}/t_cmap")
        c["cc_rounds"] = stats["rounds"]
        c["residual_edges"] = stats["residual_edges"]
    cmap = spark.read.parquet(f"{out}/t_cmap")
    with tr.span("operators.graph.write_graph"):
        graph.write_graph(graph.build_nodes(cmap),
                          graph.build_edges(triples, cmap), f"{out}/graph")


def pages_kg_traced(spark, tr, src: str, out: str) -> None:
    with tr.span("sources.pages.read_pages"):
        pages.read_pages(spark, src).write.format("noop").mode(
            "overwrite").save()
    with tr.span("plans.pipeline.classify_pages"):
        # the same projected stage write build_triples(stage_dir=) does
        _write(pipeline.classify_pages(pages.read_pages(spark, src))
               .drop("url", "lang", "thread", "channel"), f"{out}/stage")
    _traced_triples(spark, tr, spark.read.parquet(f"{out}/stage"), out)
    _traced_graph(spark, tr, spark.read.parquet(f"{out}/triples"), out)


def entity_zipf_traced(spark, tr, src: str, out: str) -> None:
    _traced_graph(spark, tr, spark.read.parquet(src), out)


def export_json_traced(spark, tr, src: str, out: str) -> None:
    with tr.span("sources.discord_export.read_discord_export_repaired"):
        _write(discord_export.read_discord_export_repaired(spark, src),
               f"{out}/t_exports")
    with tr.span("operators.classify.with_type") as c:
        # flatten + classify, handed off through the in-memory cache
        # exactly as build_triples_from_export(cache_messages=True)
        messages = classify.with_type(discord_export.export_to_messages(
            spark.read.parquet(f"{out}/t_exports"))).persist()
        c["rows_out"] = messages.count()
    try:
        _traced_triples(spark, tr, messages, out)
    finally:
        messages.unpersist()


# ------------------------------------------------------------- registry

@dataclass(frozen=True)
class Workload:
    name: str
    # (session, dir, seed) -> input path; not timed.  It runs while the
    # JVM starts; session() waits for the JVM and returns the session.
    inputs: Callable
    setup: Callable    # (spark, dir, seed, input) -> what passes read
    run: Callable      # (spark, src, out) -> None
    traced: Callable   # (spark, tracer, src, out) -> None
    triples: bool      # writes a triple table
    graph: bool        # writes nodes/edges
    # untimed passes before the timed ones.  export_json's pass time
    # falls steeply over its second pass: over five runs each, the best
    # of three timed passes spread (interquartile range over median) by
    # 0.05 when timed from the third pass and by 0.20 from the second.
    # For pages_kg a second warm-up pass left that spread as it was
    # (0.12) and would cost about 10 s a run.
    warmup: int


def _pages_inputs(session, d, seed):
    spark = session()
    path = f"{d}/pages"
    synth_dist.write_pages_dist(spark, path, n=PAGES, seed=seed,
                                partitions=_parallelism(spark) * 2)
    return path


def _pages_setup(spark, d, seed, src):
    pages.read_pages(spark, src).count()
    return src


def _export_inputs(session, d, seed):
    path = f"{d}/exports"
    write_exports(path, EXPORT_MESSAGES, seed)
    return path


def _export_setup(spark, d, seed, src):
    discord_export.read_discord_export(spark, src).count()
    return src


def _no_inputs(session, d, seed):
    return None


def _zipf_setup(spark, d, seed, src):
    path = f"{d}/zipf_triples"
    _write(synth_dist.zipf_triples_df(
        spark, ZIPF_TRIPLES, n_entities=ZIPF_ENTITIES,
        n_authors=ZIPF_ENTITIES // 10, seed=seed), path)
    return path


def _parallelism(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


WORKLOADS = {w.name: w for w in (
    Workload("pages_kg", _pages_inputs, _pages_setup, pages_kg_pass,
             pages_kg_traced, True, True, 1),
    Workload("entity_zipf", _no_inputs, _zipf_setup, entity_zipf_pass,
             entity_zipf_traced, False, True, 2),
    Workload("export_json", _export_inputs, _export_setup, export_json_pass,
             export_json_traced, True, False, 2),
)}
