"""User-facing facade mirroring the reference's API surface
(SURVEY.md section 3.1: ``/health``, ``/status``, ``/query`` are the
endpoints that exist in code, ``api/endpoints.py:32-65``): a reference
user's three entry points map to three methods on ``RagEngine``, plus
``ingest`` for the staging-directory pipeline (section 3.2).

This is the batch-engine face of those endpoints: ``query`` runs the
retrieval plan (embed -> top-k cosine -> context dedup -> [sourceN]
citations) and returns the assembled, cited context rows; generation
(the LLM call) is out of scope by design. ``status`` aggregates the
chunk/embedding tables the way the reference's status endpoint reads
its lifecycle table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.embedding import embed_text_py
from .operators.ingest import ingest_pipeline
from .operators.similarity import cosine

RETRIEVER_TOP_K = 4  # reference default (shared/defaults.py:88)


class RagEngine:
    """Batch RAG engine over a chunks+embeddings table pair."""

    def __init__(self, spark: SparkSession, chunks: DataFrame,
                 embeddings: DataFrame) -> None:
        self.spark = spark
        self.chunks = chunks
        self.embeddings = embeddings

    # -- construction -------------------------------------------------------
    @classmethod
    def ingest(cls, spark: SparkSession, staging_dir: str,
               out_dir: str | None = None, **kw) -> "RagEngine":
        """Section 3.2 pipeline: staging dir -> chunks + embeddings.
        With ``out_dir`` the engine serves the written store, as
        :meth:`load` of that dir would."""
        chunks, embeddings = ingest_pipeline(spark, staging_dir, out_dir, **kw)
        return cls(spark, chunks, embeddings)

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "RagEngine":
        return cls(
            spark,
            spark.read.parquet(f"{out_dir}/chunks"),
            spark.read.parquet(f"{out_dir}/embeddings"),
        )

    # -- endpoints ----------------------------------------------------------
    def query(self, text: str, k: int = RETRIEVER_TOP_K) -> DataFrame:
        """The ``/query`` retrieval step: embed ``"query: " + text``
        (the e5 asymmetric convention, chroma_chat.py:20), top-k COSINE
        against the embeddings, dedup context on content, render
        [sourceN] citations. Returns (source_n, id, source_file, page,
        cos_sim, citation, chunk)."""
        qv = F.array(*[F.lit(x) for x in embed_text_py("query: " + text)])
        emb = self.embeddings.select(
            "id", F.col("embedding").cast("array<double>").alias("cv")
        )
        scored = emb.select(
            "id", cosine(qv, F.col("cv")).alias("cos_raw")
        ).orderBy(F.desc("cos_raw"), F.asc("id")).limit(k)
        # the k scored rows are the tiny side -- broadcast THEM against
        # the (potentially huge) chunks table
        with_text = F.broadcast(scored).join(self.chunks, "id")
        w_dedup = Window.partitionBy("chunk").orderBy(
            F.desc("cos_raw"), F.asc("id")
        )
        deduped = with_text.withColumn(
            "_rn", F.row_number().over(w_dedup)
        ).filter(F.col("_rn") == 1)
        w_src = Window.orderBy(F.desc("cos_raw"), F.asc("id"))
        n = F.row_number().over(w_src)
        return deduped.select(
            n.alias("source_n"), "id", "source_file", "page",
            F.round("cos_raw", 4).alias("cos_sim"),
            F.concat(
                F.lit("[source"), n, F.lit("]("), F.col("source_file"),
                F.lit("#page="), F.col("page"), F.lit(")"),
            ).alias("citation"),
            "chunk",
        )

    def session_history(self, messages: DataFrame, session_id=None,
                        max_msgs: int = 40) -> DataFrame:
        """The ``/query`` session step (endpoints.py:48-65): resolve a
        session's history, trimmed to the newest ``max_msgs``
        (MAX_SESSION_TURNS*2 = 40, chat_session_service.py:55-60),
        returned oldest-first. Retrieval itself is history-free in the
        reference too -- history only feeds the generation prompt.

        ``messages`` columns: (session_id, ts, role, content)."""
        src = messages if session_id is None else messages.filter(
            F.col("session_id") == session_id
        )
        w = Window.partitionBy("session_id").orderBy(F.desc("ts"))
        return (
            src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_msgs)
            .drop("_rn")
            .orderBy("session_id", "ts")
        )

    def status(self) -> DataFrame:
        """The ``/status`` aggregate: corpus counts per source type
        (the reference reads its lifecycle table; the batch engine's
        unit of lifecycle is the written chunk)."""
        return (
            self.chunks.groupBy("type")
            .agg(
                F.count("*").alias("n_chunks"),
                F.countDistinct("document_id").alias("n_documents"),
                F.round(F.avg(F.length("chunk")), 2).alias("avg_chunk_chars"),
            )
            .orderBy("type")
        )

    def health(self) -> dict:
        """The ``/health`` probe: cheap invariant checks."""
        n_chunks = self.chunks.count()
        n_vecs = self.embeddings.count()
        return {
            "chunks": n_chunks,
            "embeddings": n_vecs,
            "aligned": n_chunks == n_vecs,
            "spark_version": self.spark.version,
        }
