"""§3.2 — distributed inference: apply a trained scraper plan to pages.

The hot path at 10^10 scale (SURVEY.md §3.2): the plan is a small JSON tree
shipped in the task closure (equivalent to a broadcast — it is a few hundred
bytes); each Arrow batch of pages is parsed and extracted per partition with
zero shuffle.  One output row per page (value_json) or one row per extracted
list item (exploded form), so downstream consumers keep full column pruning.
"""
from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def extract_with_plan(pages_df: DataFrame, plan: dict,
                      page_id_col: str = "page_id",
                      html_col: str = "html") -> DataFrame:
    """Apply a scraper plan to every page → (page_id, value_json)."""
    plan_json = json.dumps(plan)
    schema = T.StructType(
        [
            T.StructField("page_id", T.StringType(), False),
            T.StructField("value_json", T.StringType(), True),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.training.scrapers import apply_plan_to_html

        p = json.loads(plan_json)
        for pdf in batches:
            out = []
            for page_id, html in zip(pdf[page_id_col], pdf[html_col]):
                # convention across all extract operators: SQL NULL means
                # the pipeline failed; the JSON string "null" means the
                # plan ran and extracted nothing
                try:
                    out.append(
                        (page_id,
                         json.dumps(apply_plan_to_html(html, p, strict=False),
                                    sort_keys=True))
                    )
                except Exception:
                    out.append((page_id, None))
            yield pd.DataFrame(out, columns=["page_id", "value_json"])

    return pages_df.select(page_id_col, html_col).mapInPandas(_extract, schema)


def extract_list_items(pages_df: DataFrame, plan: dict,
                       page_id_col: str = "page_id",
                       html_col: str = "html") -> DataFrame:
    """For a list plan, emit one row per extracted item:
    (page_id, item_index, item_json) — the exploded sink shape (S5)."""
    assert plan["type"] == "list", "extract_list_items requires a list plan"
    plan_json = json.dumps(plan)
    schema = T.StructType(
        [
            T.StructField("page_id", T.StringType(), False),
            T.StructField("item_index", T.IntegerType(), False),
            T.StructField("item_json", T.StringType(), True),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mlscraper_spark.training.scrapers import apply_plan_to_html

        p = json.loads(plan_json)
        for pdf in batches:
            out = []
            for page_id, html in zip(pdf[page_id_col], pdf[html_col]):
                try:
                    items = apply_plan_to_html(html, p, strict=False) or []
                except Exception:
                    items = []
                for i, item in enumerate(items):
                    out.append((page_id, i, json.dumps(item, sort_keys=True)))
            yield pd.DataFrame(out, columns=["page_id", "item_index", "item_json"])

    return pages_df.select(page_id_col, html_col).mapInPandas(_extract, schema)
