"""QA / audit-log framework (reference patchwork.py:264-345 — the
signature semantic of the cleaning pipeline).

Every cleaner produces (cleaned_df, qa_df): the QA DataFrame carries one
row per per-cell decision, with the reference's fixed schema
(patchwork.py:283-287) and error levels (patchwork.py:38-42). Unlike the
reference's row-at-a-time `df.apply` + list-append, QA rows are computed
set-wise: filter the violating rows, project into the QA schema, union
across rules — fully distributed, no driver loop.
"""

from __future__ import annotations

from enum import IntEnum
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastetl_spark.io.writers import literal_frame


class QALogLevel(IntEnum):
    """patchwork.py:38-42"""

    CAST_FIX = 1
    CAST_NULL = 2
    DROP_LINE = 3
    ADD_COLUMN = 4


QA_SCHEMA = (
    "primary_keys_labels string, primary_keys_values string, esquema string,"
    " tabela string, coluna string, valor_original string, valor_considerado string,"
    " nivel_erro int, motivo string, datahora_verificacao timestamp"
)


def qa_rows(
    df: DataFrame,
    pks: list[str],
    esquema: str,
    tabela: str,
    coluna: str,
    violation: Column,
    original: Column,
    considered: Column,
    level: QALogLevel,
    motivo: str,
) -> DataFrame:
    """Project violating rows into the QA schema. PK values are
    comma-joined to match the reference format (patchwork.py:317)."""
    return df.filter(violation).select(
        F.lit(",".join(pks)).alias("primary_keys_labels"),
        F.concat_ws(",", *[F.col(pk).cast("string") for pk in pks]).alias("primary_keys_values"),
        F.lit(esquema).alias("esquema"),
        F.lit(tabela).alias("tabela"),
        F.lit(coluna).alias("coluna"),
        original.cast("string").alias("valor_original"),
        considered.cast("string").alias("valor_considerado"),
        F.lit(int(level)).cast("int").alias("nivel_erro"),
        F.lit(motivo).alias("motivo"),
        F.current_timestamp().alias("datahora_verificacao"),
    )


class BaseCleaner:
    """Cleaner protocol: subclass and implement clean(df) -> (df, qa_df)
    (mirrors BaseDataCleaner, patchwork.py:264-345, as pure transforms)."""

    def __init__(self, pks: list[str], esquema: str = "public", tabela: str = "table"):
        self.pks = pks
        self.esquema = esquema
        self.tabela = tabela

    def clean(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        raise NotImplementedError

    def _qa(self, df, coluna, violation, original, considered, level, motivo):
        return qa_rows(
            df, self.pks, self.esquema, self.tabela, coluna, violation, original, considered, level, motivo
        )


class CleaningPipeline:
    """Chain cleaners; QA logs union across stages. The reference
    checkpointed each stage to a tmp-dir file (patchwork.py module
    docstring); here stages stay distributed, with optional parquet
    checkpointing of patch/QA artifacts handled by plans/patch.py. With
    no cleaners the QA log is an empty frame of ``QA_SCHEMA``."""

    def __init__(self, cleaners: list[BaseCleaner]):
        self.cleaners = cleaners

    def run(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        qa_parts: list[DataFrame] = []
        for cleaner in self.cleaners:
            df, qa = cleaner.clean(df)
            qa_parts.append(qa)
        if not qa_parts:
            return df, literal_frame(df.sparkSession, QA_SCHEMA)
        return df, reduce(DataFrame.unionByName, qa_parts)
