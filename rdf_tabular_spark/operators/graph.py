"""Iterative graph operators the SPARQL read tier runs over materialized
(subj, pred, obj) triples.

- ``transitive_closure`` computes all reachable ``(src, dst)`` pairs by
  semi-naive iteration: the ``+`` and ``*`` property paths of
  operators/paths.py and the transitive-property rule of operators/owl.py
  run on it. ``transitive_closure_doubling`` is its path-doubling form
  for deep graphs (log₂(depth) rounds).
- ``describe`` answers SPARQL ``DESCRIBE`` (sparql.py) as a Concise
  Bounded Description.
- ``_ckpt`` truncates lineage between the rounds of these loops and of
  stage 3's connected components (operators/components.py), locally by
  default or reliably into a checkpoint directory.

``closure_sql`` and ``describe_sql`` are the recursive-CTE forms of the
closure and DESCRIBE (DuckDB oracles; sparql.py compiles DESCRIBE to
``describe_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ckpt(df: DataFrame, checkpoint_dir: str | None = None,
          eager: bool = True) -> DataFrame:
    """Truncate lineage between iterations. Default: ``localCheckpoint``
    (executor-local blocks — fast, but NOT fault-tolerant: a lost executor
    loses its partitions and the truncated lineage can't recompute them).
    Passing ``checkpoint_dir`` switches to a reliable ``checkpoint()``
    into that directory (HDFS/S3/DBFS at cluster scale), so hours of
    iterative state survive executor loss. The sandbox default stays
    local — reliability is an opt-in cost (one round-trip write per
    round)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


def transitive_closure(edges: DataFrame, max_iter: int = 64,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """All reachable ``(src, dst)`` pairs over 1+ hops — semi-naive
    evaluation: each round joins only the NEW pairs (delta) against the
    edge table, dedups, and anti-joins the accumulated result, so every
    derivation is considered once (Datalog semi-naive; cf. Spark GraphX
    Pregel's message-delta loop). Terminates when the delta is empty.

    Scale notes: rounds = longest path length; for deep graphs switch the
    delta join to path-doubling (join delta with the full closure so far —
    log₂(depth) rounds at the cost of quadratic intermediate size). The
    delta and accumulator are checkpointed each round — without that
    the logical plan doubles per round and analysis itself blows up.
    Default is ``localCheckpoint`` (sandbox-fast, not fault-tolerant);
    pass ``checkpoint_dir`` for a reliable ``checkpoint()`` so a lost
    executor can't drop the truncated-lineage partitions (see
    :func:`_ckpt`)."""
    e = edges.select("src", "dst").distinct().persist()
    e.count()
    paths = _ckpt(e, checkpoint_dir)
    delta = paths
    for _ in range(max_iter):
        step = (delta.select(F.col("src").alias("d_src"),
                             F.col("dst").alias("mid"))
                .join(e.select(F.col("src").alias("mid"),
                               F.col("dst").alias("e_dst")), "mid")
                .select(F.col("d_src").alias("src"),
                        F.col("e_dst").alias("dst"))
                .distinct()
                .join(paths, ["src", "dst"], "left_anti"))
        step = _ckpt(step, checkpoint_dir)
        if step.isEmpty():
            break
        paths = _ckpt(paths.unionByName(step), checkpoint_dir)
        delta = step
    e.unpersist()
    return paths


def transitive_closure_doubling(edges: DataFrame,
                                max_iter: int = 20,
                                checkpoint_dir: str | None = None) -> DataFrame:
    """Transitive closure by PATH DOUBLING — the deep-graph scale tier the
    semi-naive docstring points at: after round k the accumulator holds all
    paths of length ≤ 2^k, so a 10^6-deep chain closes in 20 rounds instead
    of 10^6. Each round self-joins the accumulator with itself (quadratic
    intermediate vs semi-naive's delta×E — the classic trade: fewer, fatter
    rounds; right when depth, not breadth, is the problem). Terminates when
    a round adds nothing. Same result set as :func:`transitive_closure`
    (pytest-asserted on random graphs)."""
    paths = _ckpt(edges.select("src", "dst").distinct(), checkpoint_dir)
    for _ in range(max_iter):
        doubled = (paths.select(F.col("src").alias("p_src"),
                                F.col("dst").alias("mid"))
                   .join(paths.select(F.col("src").alias("mid"),
                                      F.col("dst").alias("p_dst")), "mid")
                   .select(F.col("p_src").alias("src"),
                           F.col("p_dst").alias("dst"))
                   .distinct()
                   .join(paths, ["src", "dst"], "left_anti"))
        doubled = _ckpt(doubled, checkpoint_dir)
        if doubled.isEmpty():
            break
        paths = _ckpt(paths.unionByName(doubled), checkpoint_dir)
    return paths


def describe(triples: DataFrame, seeds: DataFrame,
             max_depth: int = 32,
             checkpoint_dir: str | None = None) -> DataFrame:
    """SPARQL ``DESCRIBE`` as Concise Bounded Description (CBD, the
    de-facto standard answer shape): every triple whose subject is a seed,
    plus — recursively — the triples of blank-node objects reached from
    described triples (bnodes have no global identity, so their subtree IS
    part of the description; IRI objects are boundaries). ``seeds`` is a
    one-column DataFrame of subject terms.

    Spark shape: semi-naive frontier expansion — each round joins the NEW
    bnode frontier against the triples (subject-bucketed stores co-locate
    this join), checkpointed like transitive_closure (reliable when
    ``checkpoint_dir`` is given — see :func:`_ckpt`). Depth =
    longest bnode chain (CSVW emits depth ≤ 2: row bnode → list bnode),
    so rounds stay single-digit on real mappings."""
    node_col = seeds.columns[0]
    visited = _ckpt(seeds.select(F.col(node_col).alias("node")).distinct(),
                    checkpoint_dir)
    frontier = visited
    out: DataFrame | None = None
    for _ in range(max_depth):
        step = _ckpt(triples.join(frontier,
                                  triples["subj"] == frontier["node"])
                     .select("subj", "pred", "obj"), checkpoint_dir)
        out = step if out is None else out.unionByName(step)
        new = _ckpt(step.filter(F.col("obj").startswith("_:"))
                    .select(F.col("obj").alias("node")).distinct()
                    .join(visited, "node", "left_anti"), checkpoint_dir)
        if new.isEmpty():
            break
        visited = _ckpt(visited.unionByName(new), checkpoint_dir)
        frontier = new
    return out


def describe_sql(triples_sql: str, seeds_sql: str) -> str:
    """``describe`` as SQL (DuckDB oracle): recursive CTE over the
    bnode-object reachability, then a semijoin back to the triples."""
    return f"""
with recursive t as ({triples_sql}),
seeds as ({seeds_sql}),
reach as (
  select node from seeds
  union
  select t.obj as node from reach r join t on t.subj = r.node
  where t.obj like '_:%')
select t.subj, t.pred, t.obj from t join reach on t.subj = reach.node
"""


def closure_sql(edges_sql: str) -> str:
    """Transitive closure as a recursive CTE (DuckDB oracle) — UNION
    (not UNION ALL) mirrors the operator's distinct/anti-join dedup."""
    return f"""
with recursive e as ({edges_sql}),
reach as (
  select src, dst from e
  union
  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src)
select src, dst from reach
"""


