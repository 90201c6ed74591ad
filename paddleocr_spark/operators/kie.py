"""KIE SER→RE relation pairing (J6) — the entity self-join.

Restates the reference's key-information-extraction relation stage:

* **SER** labels every OCR entity HEADER / QUESTION / ANSWER / O
  (ppstructure/kie/predict_kie_token_ser.py); 'O' entities are dropped
  before relation building (tools/infer_kie_token_ser_re.py:76-78).
* **make_input** (tools/infer_kie_token_ser_re.py:92-99) builds the
  candidate set as the full QUESTION × ANSWER cross product *within a
  document* — the only join shape in the reference that is an entity
  self-join.
* **VQAReTokenLayoutLMPostProcess._infer**
  (ppocr/postprocess/vqa_token_re_layoutlm_postprocess.py:37-55) keeps, of
  the model-confirmed relations, only the FIRST relation per tail_id
  (``used_tail_id`` first-come dedup): each answer links to at most one
  question.

Spark restatement: entities synthesize deterministically from
``documents`` (label from modular arithmetic — the SER stand-in); the
candidate build is a doc_id-co-partitioned self-join (never a global
crossJoin; Catalyst hashes on doc_id); the model confirmation is a
deterministic arithmetic predicate (pair pruning); the first-tail-wins
dedup is a window ``row_number() == 1`` per (doc_id, tail) ordered by
head_id. Everything is JVM-side; the DuckDB twin restates it verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import sf_table

#: SER label stand-in: (doc_id + 7*entity_id) % 11 → label class
#: (entities_labels = {HEADER: 0, QUESTION: 1, ANSWER: 2},
#: tools/infer_kie_token_ser_re.py:65).
LABEL_CASE = ("CASE (doc_id + entity_id * 7) % 11 "
              "WHEN 0 THEN 'HEADER' "
              "WHEN 1 THEN 'QUESTION' WHEN 2 THEN 'QUESTION' "
              "WHEN 3 THEN 'QUESTION' "
              "WHEN 4 THEN 'ANSWER' WHEN 5 THEN 'ANSWER' "
              "WHEN 6 THEN 'ANSWER' "
              "ELSE 'O' END")

#: Deterministic RE-model stand-in: a candidate (head, tail) pair is
#: confirmed iff this arithmetic predicate holds.
CONFIRM = "(head_id * 31 + tail_id * 17 + doc_id) % 3 = 0"


def ser_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → exploded entity table (doc_id, entity_id, label).

    3 + n_chars % 5 entities per document; 'O' entities already dropped
    (the reference filters them before relation building)."""
    docs = sf_table(spark, sf_dir, "documents")
    ents = docs.select(
        "doc_id",
        F.explode(F.expr("sequence(0, 2 + n_chars % 5)")).alias("entity_id"),
    ).select("doc_id", F.col("entity_id").cast("long").alias("entity_id"),
             F.expr(LABEL_CASE).alias("label"))
    return ents.filter(F.col("label") != "O")


def kie_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: QUESTION × ANSWER self-join per doc → confirm → first-tail-wins.

    Output (doc_id, head_id, tail_id): head is the question entity, tail
    the answer; at most one row per (doc_id, tail_id) — the smallest
    confirmed head wins, the window analog of the reference's
    ``used_tail_id`` first-come rule (relations arrive head-major there).
    """
    ents = ser_entities(spark, sf_dir)
    q = (ents.filter(F.col("label") == "QUESTION")
         .select("doc_id", F.col("entity_id").alias("head_id")))
    a = (ents.filter(F.col("label") == "ANSWER")
         .select("doc_id", F.col("entity_id").alias("tail_id")))
    cand = q.join(a, "doc_id").filter(F.expr(CONFIRM))
    w = Window.partitionBy("doc_id", "tail_id").orderBy("head_id")
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "head_id", "tail_id"))
