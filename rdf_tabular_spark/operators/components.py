"""Connected components via iterative min-label propagation (large-star /
small-star style alternation simplified to symmetric min-propagation).

north_rule stage 3: canonical subject/object ids. Cluster diameters from
LSH blocking are tiny (near-dup groups), so convergence is a handful of
iterations; each iteration is one shuffle (join + groupBy-min).
localCheckpoint truncates lineage so the plan doesn't grow per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 21,
                         rounds_per_check: int = 3,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """edges(a, b) → (id, component) with component = min id in the component.

    Vertices are the distinct endpoints. Deterministic: labels are ids
    (strings compare lexicographically) — min is stable.

    Actions are the dominant cost of the loop at scale (each is a full job
    launch), so propagation runs in BATCHES of ``rounds_per_check`` rounds
    per action: the batch is materialized by one eager localCheckpoint (also
    truncating lineage), then convergence is tested from the ``changed``
    flag of the batch's FINAL round — if no label moved in that round the
    fixpoint is reached, regardless of earlier rounds in the batch. Cuts
    driver actions ~3× vs check-every-round at the cost of ≤ k-1 cheap
    extra rounds after convergence.

    ``checkpoint_dir`` switches lineage truncation from executor-local
    blocks to a reliable ``checkpoint()`` (see operators.graph._ckpt) —
    opt in at cluster scale where a lost executor must not lose the
    iteration state.
    """
    from .graph import _ckpt
    sym = (edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
           .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
           .distinct()
           # cut the upstream lineage ONCE: the edge list is joined every
           # iteration — without this the whole LSH/blocking pipeline would
           # re-execute per iteration (and once more per convergence check)
           )
    sym = _ckpt(sym, checkpoint_dir, eager=True)
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .withColumn("component", F.col("id")))

    done = 0
    while done < max_iter:
        k = min(rounds_per_check, max_iter - done)
        for j in range(k):
            # candidate label for dst = min over neighbors' labels
            cand = (sym.join(labels, sym.src == labels.id, "inner")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("component").alias("nbr_min")))
            new_labels = (labels.join(cand, on="id", how="left")
                          .select("id",
                                  F.least(F.col("component"),
                                          F.col("nbr_min")).alias("component"),
                                  (F.col("nbr_min") < F.col("component"))
                                  .alias("changed")))
            labels = new_labels if j == k - 1 else new_labels.drop("changed")
        done += k
        labels = _ckpt(labels, checkpoint_dir, eager=True)  # ONE job runs k rounds
        changed = labels.filter(F.col("changed")).limit(1).count()
        labels = labels.drop("changed")
        if changed == 0:
            break
    return labels


def _unionfind(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find → {id: min id of its component}."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out: dict[str, str] = {}
    for v in {v for p in pairs for v in p}:
        out[v] = find(v)
    return out


def canonical_mapping(edges: DataFrame,
                      driver_threshold: int = 200_000) -> DataFrame:
    """→ (id, canonical_id) for every vertex touched by an edge.

    Size-adaptive (AQE-style): after the exact-first cascade the near-dup
    edge set is a sliver of the corpus, and the distributed loop costs
    several job launches even on a few thousand edges (~7 s measured) — a
    bounded count picks a driver-side union-find below ``driver_threshold``
    edges and the iterative min-label loop above it. Both produce the same
    (id, min-id-of-component) mapping.

    The driver path, empty result included, hands its mapping to the JVM
    as one Arrow table, which Spark plans as a ``LocalRelation``: no
    Python ``parallelize`` job, and the planner knows its size, so joins
    against it broadcast it."""
    sample = edges.limit(driver_threshold + 1).collect() \
        if driver_threshold > 0 else []
    if driver_threshold > 0 and len(sample) <= driver_threshold:
        import pyarrow as pa
        mapping = sorted(_unionfind([(r[0], r[1]) for r in sample]).items())
        table = pa.table({"id": pa.array([k for k, _ in mapping], pa.string()),
                          "canonical_id": pa.array([v for _, v in mapping],
                                                   pa.string())})
        return edges.sparkSession.createDataFrame(
            table, "id string, canonical_id string")
    return connected_components(edges).withColumnRenamed("component", "canonical_id")


def rewrite_triples(triples: DataFrame, mapping: DataFrame,
                    broadcast: bool = True) -> DataFrame:
    """Replace subj/obj ids by canonical ids. The mapping covers only
    vertices in near-dup clusters — a sliver of the graph — so broadcast it
    (two broadcast hash joins, no shuffle of the triple stream)."""
    m = F.broadcast(mapping) if broadcast else mapping
    subj_map = m.select(F.col("id").alias("subj"), F.col("canonical_id").alias("subj_canon"))
    t = (triples.join(subj_map, on="subj", how="left")
         .withColumn("subj", F.coalesce("subj_canon", "subj")).drop("subj_canon"))
    obj_map = m.select(F.col("id").alias("_obj_key"), F.col("canonical_id").alias("obj_canon"))
    t = (t.join(obj_map, on=t.obj == obj_map._obj_key, how="left")
         .withColumn("obj", F.when(F.col("obj_is_iri") & F.col("obj_canon").isNotNull(),
                                   F.col("obj_canon")).otherwise(F.col("obj")))
         .drop("_obj_key", "obj_canon"))
    return t


def merge_mappings(maps: list[DataFrame]) -> DataFrame:
    """Union-find merge of canonical mappings from successive batches.

    Every (id, canonical_id) row is an edge; the merged mapping is the
    connected components of their union, flattened so canonical_id is the
    GLOBAL min of the merged cluster — two batches that each saw half of a
    duplicate pair (A~B in batch 1, B~C in batch 2) converge to one id
    without either batch having seen the whole cluster. Size-adaptive like
    :func:`canonical_mapping` (driver union-find while the clustered set is
    small, the distributed min-label loop at scale)."""
    from functools import reduce
    edges = reduce(DataFrame.unionByName,
                   [m.select(F.col("id").alias("a"),
                             F.col("canonical_id").alias("b"))
                    for m in maps])
    return canonical_mapping(edges.filter(F.col("a") != F.col("b")))
