"""Output checks run after every pass.

For any seed:
- triples: no two rows share the dedup key, and every row obeys P7
  (non-empty stripped subject/predicate/object, confidence in [0, 1],
  object at least two characters);
- graph: canonical ids are unique, each node's canonical_id is the
  smallest mention of its component, and every edge endpoint that
  `build_edges` rekeys through the mention map (subjects of
  non-structural predicates, objects of entity-valued predicates, when
  they are 1..64 characters long, the mention filter's bounds) is a
  node.

For the default seed, the triple count, an order-independent digest
of the (subject, predicate, object) set and the node and edge counts
are pinned in PINS.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from project_discord_knowledge_graph_spark.operators.dedup import dedup_key
from project_discord_knowledge_graph_spark.operators.entity import (
    ENTITY_OBJECT_PREDICATES, STRUCTURAL_PREDICATES,
)

DEFAULT_SEED = 1

# workload -> expected values for DEFAULT_SEED at the sizes in
# workloads.py
PINS: dict[str, dict] = {
    "pages_kg": {"n_triples": 24374, "spo_digest": "cd2645e2b11b586a",
                 "n_nodes": 43, "n_edges": 24374},
    "entity_zipf": {"n_nodes": 6582, "n_edges": 30000},
    "export_json": {"n_triples": 15350, "spo_digest": "5a38b574ce3c35d9"},
}

_WS = " \t\n\x0b\x0c\r"


def _stripped(c):
    return c == F.btrim(c, F.lit(_WS))


def triple_facts(spark, path: str) -> dict:
    t = spark.read.parquet(path)
    p7_bad = ~((F.col("subject") != "") & (F.col("predicate") != "")
               & (F.col("object") != "")
               & _stripped(F.col("subject")) & _stripped(F.col("predicate"))
               & _stripped(F.col("object"))
               & F.col("confidence").between(0.0, 1.0)
               & (F.length("object") >= 2))
    row = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(dedup_key(F.col("subject"), F.col("predicate"),
                                   F.col("object"))).alias("keys"),
        F.sum(F.when(p7_bad, 1).otherwise(0)).alias("p7_bad"),
        F.expr("bit_xor(xxhash64(subject, predicate, object))")
        .alias("digest")).first()
    return {"n_triples": row.n, "dup_keys": row.n - row.keys,
            "p7_violations": row.p7_bad or 0,
            "spo_digest": f"{(row.digest or 0) & (2**64 - 1):016x}"}


def graph_facts(spark, path: str) -> dict:
    nodes = spark.read.parquet(f"{path}/nodes")
    edges = spark.read.parquet(f"{path}/edges")
    n = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("canonical_id").alias("ids"),
        F.sum(F.when(F.col("canonical_id")
                     != F.element_at(F.array_sort("mentions"), 1), 1)
              .otherwise(0)).alias("not_min")).first()

    def bounded(c):
        return F.length(c).between(1, 64)

    need = (edges.where(~F.col("predicate").isin(*STRUCTURAL_PREDICATES)
                        & bounded(F.col("subject")))
            .select(F.col("src").alias("id"))
            .unionByName(
                edges.where(F.col("predicate").isin(*ENTITY_OBJECT_PREDICATES)
                            & bounded(F.col("object")))
                .select(F.col("dst").alias("id"))))
    orphans = need.join(nodes.select(F.col("canonical_id").alias("id")),
                        "id", "left_anti").count()
    return {"n_nodes": n.n, "n_edges": edges.count(),
            "dup_canonical_ids": n.n - n.ids,
            "canonical_not_min": n.not_min or 0,
            "orphan_endpoints": orphans}


def check(spark, out: str, has_triples: bool, has_graph: bool,
          pins: dict | None) -> tuple[dict, list[str]]:
    """Facts about one pass's outputs and the list of failed checks."""
    facts: dict = {}
    if has_triples:
        facts.update(triple_facts(spark, f"{out}/triples"))
    if has_graph:
        facts.update(graph_facts(spark, f"{out}/graph"))
    failed = [k for k in ("dup_keys", "p7_violations", "dup_canonical_ids",
                          "canonical_not_min", "orphan_endpoints")
              if facts.get(k, 0) != 0]
    failed += [f"{k}: {facts.get(k)!r} != pinned {v!r}"
               for k, v in (pins or {}).items() if facts.get(k) != v]
    return facts, failed
