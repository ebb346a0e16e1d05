"""dataRinse-analogue dataset→script association index.

The reference's dataRinse service maps CSV datasets to the scripts that
wrangle them: it greps a script corpus for ``read_csv(...)`` mentions,
keeps datasets with **more than 10** mentioning script lines, ranks the
survivors by mention count and keeps the **top 12**, then records the
**first 5** scripts per dataset
(`/root/reference/dataRinse/scripts/python_process_csv.py:25-56`).

Deliberately NOT modeled: the reference's provenance filter also
requires the dataset to come from exactly one source archive
(``len(v['zip']) == 1``, `python_process_csv.py:46-48`).  This analogue
has no zip/archive provenance column — mention lines arrive as a plain
(script, line) corpus — so the support threshold is the only keep
condition here.

Spark-first restatement — every step is a stock relational op:

- **extract** — ``regexp_extract`` pulls the csv basename out of each
  mention line (JVM, no UDF); one row per (script, mention).
- **support filter** — hash-aggregate per dataset + ``HAVING cnt > 10``
  (the reference's ``len(scripts) > 10``).
- **rank** — top-12 datasets by (mentions desc, name asc): orderBy +
  limit = TakeOrdered, no global sort.
- **witnesses** — first-5 scripts per surviving dataset, ordered
  deterministically (the reference's ``scripts[:5]``), by the shared
  salted cap `functions.salted_top_k`: a popular dataset (`train.csv`)
  is a skewed key at corpus scale.  Its window keys are the 12 surviving
  datasets only: the support filter and the top-12 cut run first, on
  aggregates, not on rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph4code_spark.functions import salted_top_k

#: reference constants (`python_process_csv.py:46-48,53`)
MIN_MENTIONS = 10       # strictly-greater support threshold
TOP_DATASETS = 12
SCRIPTS_PER_DATASET = 5

#: the reference slices from `read_csv(` to `.csv` and basenames it;
#: the same capture as one regex over the mention line
READ_CSV_RE = r"read_csv\(['\"]?(?:[^'\"()]*/)?([^'\"()/]+?\.csv)"


def dataset_script_index(mentions: DataFrame, order_col: str = "script") -> DataFrame:
    """One row per (dataset, witness script) for the association index,
    over (script, line) mention rows whose witnesses order by
    ``order_col``.

    Output: ``csv`` (dataset basename), ``n_mentions`` (corpus support),
    ``script_rank`` (1-based, ≤ SCRIPTS_PER_DATASET), ``script``."""
    obs = (
        mentions.select(
            F.regexp_extract(F.col("line"), READ_CSV_RE, 1).alias("csv"),
            "script",
            F.col(order_col).alias("_ord"),
        )
        .where(F.col("csv") != "")
    )
    support = (
        obs.groupBy("csv")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .where(F.col("n_mentions") > MIN_MENTIONS)
        .orderBy(F.desc("n_mentions"), F.asc("csv"))
        .limit(TOP_DATASETS)
    )
    cand = obs.join(F.broadcast(support), "csv")
    witnesses = salted_top_k(
        cand, "csv", "script", [F.asc("_ord"), F.asc("script")],
        SCRIPTS_PER_DATASET, "script_rank",
    )
    return witnesses.select("csv", "n_mentions", "script_rank", "script")
