"""Hierarchy (tree) traversal operators.

The reference traverses the mst_group / stock-group / cost-centre /
godown trees with recursive CTEs (reference
reports/mssql/group-tree-parent-child.sql:4-9 and
group-tree-children-parent.sql:4-9, capped `option (maxrecursion 500)`).
Spark 4.1 has ``WITH RECURSIVE``, but it runs each recursion step as
its own jobs (19 Spark jobs for a three-level walk of a six-row group
tree, measured on Spark 4.1.2), so these operators iterate instead: one
frontier⋈edges join per tree level. The loop is driver-side but the
*data* never leaves the cluster; iterations = tree height (single digits
for account charts), and the edge set is broadcast when small — so each
level is a map-side-only stage. The report library's group trees
(plans/tally_reports.py) use neither: they read the dimension once and
walk it on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(edges: DataFrame, max_depth: int = 32,
                       broadcast_edges: bool | None = None,
                       checkpoint_every: int = 8) -> DataFrame:
    """All (node, ancestor, depth) pairs reachable by following child→parent.

    ``edges`` must have columns ``child`` and ``parent``; one row per direct
    edge. Equivalent to the recursive CTE::

        WITH RECURSIVE cl AS (
          SELECT child AS node, parent AS ancestor, 1 AS depth FROM edges
          UNION ALL
          SELECT cl.node, e.parent, cl.depth+1 FROM cl JOIN edges e ON cl.ancestor = e.child
        ) SELECT * FROM cl

    Scale shape: per level one equi-join frontier(ancestor)⋈edges(child).
    ``broadcast_edges`` is size-guarded: ``True`` forces a broadcast (only
    for edge sets known to be dimension-sized — a group tree), ``False``
    forces a shuffle join, and the default ``None`` leaves the choice to
    Catalyst/AQE, which broadcasts only when source stats fit under
    ``spark.sql.autoBroadcastJoinThreshold`` — so a fact-sized edge table
    (e.g. customer→nation) can never blow up the driver. Depth bound
    ``max_depth`` replaces the reference's maxrecursion 500 guard;
    traversal stops as soon as a frontier is empty, and every
    ``checkpoint_every`` levels the frontier is localCheckpoint-ed so deep
    trees don't accrete an unbounded plan lineage.
    """
    up = edges.select(F.col("child").alias("_e_child"), F.col("parent").alias("_e_parent"))
    if broadcast_edges is True:
        up = F.broadcast(up)
    elif broadcast_edges is False:
        up = up.hint("shuffle_hash")

    frontier = edges.select(F.col("child").alias("node"),
                            F.col("parent").alias("ancestor"),
                            F.lit(1).cast("int").alias("depth"))
    levels = [frontier]
    for depth in range(2, max_depth + 1):
        frontier = (frontier.join(up, frontier.ancestor == F.col("_e_child"))
                    .select(F.col("node"), F.col("_e_parent").alias("ancestor"),
                            (F.col("depth") + F.lit(1)).cast("int").alias("depth")))
        if checkpoint_every and depth % checkpoint_every == 0:
            # cut lineage: level-d plan otherwise nests d joins deep, and the
            # isEmpty probe below re-executes it every level
            frontier = frontier.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        levels.append(frontier)

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tree_paths(nodes: DataFrame, name_col: str = "name",
               parent_col: str = "parent", root_marker: str | None = "",
               max_depth: int = 32,
               broadcast_nodes: bool = True) -> DataFrame:
    """(name, path, depth) for every node, path = root/.../name.

    DataFrame equivalent of the reference's parent-child tree listing
    (reports/mssql/group-tree-parent-child.sql): starts at roots and
    joins children on parent=name per level. Roots are EXACTLY the rows
    whose parent equals ``root_marker`` (matching the SQL anchor
    ``WHERE parent = ''`` the oracle replays — an orphan row with a NULL
    parent must not be silently promoted to a root with a fabricated
    subtree); pass ``root_marker=None`` for trees whose roots are stored
    with NULL parents (the common representation outside this repo's
    ''-normalized model). ``broadcast_nodes=False`` for node tables too
    large for a driver broadcast (the per-level join then shuffles, like
    ``transitive_closure``'s ``broadcast_edges=False``)."""
    base = nodes.select(F.col(name_col).alias("name"), F.col(parent_col).alias("parent"))
    is_root = (F.col("parent").isNull() if root_marker is None
               else F.col("parent") == root_marker)
    frontier = (base.filter(is_root)
                    .select("name", F.col("name").alias("path"),
                            F.lit(1).cast("int").alias("depth")))
    levels = [frontier]
    children = base.select(F.col("name").alias("_c_name"),
                           F.col("parent").alias("_c_parent"))
    if broadcast_nodes:
        children = F.broadcast(children)
    for _ in range(max_depth - 1):
        frontier = (frontier.join(children, frontier.name == F.col("_c_parent"))
                    .select(F.col("_c_name").alias("name"),
                            F.concat_ws("/", F.col("path"), F.col("_c_name")).alias("path"),
                            (F.col("depth") + F.lit(1)).cast("int").alias("depth")))
        if frontier.isEmpty():
            break
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out
