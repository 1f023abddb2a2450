"""Category dimension maintenance — J2/J3/A5/A6/W4 (SURVEY.md §2.3-2.6).

Relational re-expression of ``CocoDataset.add_categories``
(geococo/coco_models.py:56-128) and ``update_labels``
(geococo/utils.py:268-310):

- dedupe incoming uids (``np.unique`` sorts -> orderBy(uid) before id
  assignment, which reproduces auto-id order exactly),
- anti-join against the existing dimension (J3),
- ids-only  -> names = str(id) (coco_models.py:107-109),
- names-only -> ids = max(matched existing id) + row_number over sorted
  names (coco_models.py:111-117; golden "Eight" -> 6 after {1,2,5},
  reference tests/test_coco_models.py:340-385),
- missing supercategory -> literal "1" (coco_models.py:63,99-100).

The dimension is tiny (categories), so every join here is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def new_categories(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str | None = "category_id",
    name_col: str | None = None,
    super_col: str | None = None,
    order_col: str | None = "label_idx",
) -> DataFrame:
    """Categories to append, with reference-exact auto-id/name rules.

    :param existing: current dimension (id int, name string,
        supercategory string) — may be empty
    :param incoming: label rows carrying the user's attribute columns
    :return: DataFrame(id, name, supercategory) of new rows only
    """
    ids_present = id_col is not None and id_col in incoming.columns
    names_present = name_col is not None and name_col in incoming.columns
    if not ids_present and not names_present:
        raise AttributeError("At least one category attribute must be present")

    # ids are leading when both present (coco_models.py:79-84)
    uid_col = id_col if ids_present else name_col
    uid_attr = "id" if ids_present else "name"

    sel = [F.col(uid_col).alias("_uid")]
    if names_present and ids_present:
        sel.append(F.col(name_col).alias("_name"))
    if super_col is not None and super_col in incoming.columns:
        sel.append(F.col(super_col).alias("_super"))
    # np.unique(return_index=True) keeps the FIRST occurrence per uid
    # (coco_models.py:90-91) — it matters for the name/super carried
    # along with a duplicated uid. If the input has an order column
    # (label_idx, FIXTURES.md §2), reproduce first-occurrence exactly;
    # otherwise dropDuplicates picks an arbitrary (but single) row.
    if order_col is not None and order_col in incoming.columns:
        sel.append(F.col(order_col).alias("_ord"))
        w_first = Window.partitionBy("_uid").orderBy("_ord")
        dedup = (
            incoming.select(*sel)
            .withColumn("_rn1", F.row_number().over(w_first))
            .filter(F.col("_rn1") == 1)
            .drop("_rn1", "_ord")
        )
    else:
        dedup = incoming.select(*sel).dropDuplicates(["_uid"])

    fresh = dedup.join(
        F.broadcast(existing.select(F.col(uid_attr).alias("_uid"))), "_uid", "left_anti"
    )

    if "_super" not in fresh.columns:
        fresh = fresh.withColumn("_super", F.lit("1"))

    if ids_present and not names_present:
        out = fresh.select(
            F.col("_uid").cast("int").alias("id"),
            F.col("_uid").cast("string").alias("name"),
            F.col("_super").alias("supercategory"),
        )
    elif names_present and not ids_present:
        # start = max id among existing categories whose name matched an
        # incoming (deduped) uid, NaN -> 0 (np.nansum([max_id, 1]),
        # coco_models.py:112-114)
        matched = existing.join(
            F.broadcast(dedup.select(F.col("_uid").alias("name"))), "name", "left_semi"
        )
        row = matched.agg(F.max("id").alias("m")).first()
        start = int(row["m"]) if row["m"] is not None else 0
        w = Window.orderBy("_uid")
        out = fresh.withColumn("_rn", F.row_number().over(w)).select(
            (F.col("_rn") + F.lit(start)).cast("int").alias("id"),
            F.col("_uid").alias("name"),
            F.col("_super").alias("supercategory"),
        )
    else:
        out = fresh.select(
            F.col("_uid").cast("int").alias("id"),
            F.col("_name").alias("name"),
            F.col("_super").alias("supercategory"),
        )
    return out.orderBy("id")


def add_categories(existing: DataFrame, incoming: DataFrame, **kw) -> DataFrame:
    """existing ∪ new_categories(existing, incoming) (O3 append)."""
    return existing.unionByName(new_categories(existing, incoming, **kw))


def update_labels(
    labels: DataFrame,
    categories: DataFrame,
    id_col: str | None = "category_id",
    name_col: str | None = None,
) -> DataFrame:
    """J2: broadcast-join the canonical (id, name, supercategory) onto
    labels via user id or name (geococo/utils.py:268-310). The reference
    errors when a label has no match (np.where empty,
    tests/test_utils.py:575-581) — inner join + count guard preserves it.
    """
    if id_col is not None and id_col in labels.columns:
        cond = labels[id_col] == categories["id"]
    elif name_col is not None and name_col in labels.columns:
        cond = labels[name_col] == categories["name"]
    else:
        raise AttributeError("At least one category attribute must be present")
    return labels.join(
        F.broadcast(categories.select("id", "name", "supercategory")), cond, "inner"
    )
