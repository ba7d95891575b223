"""Google Sheets connector (S7 read / K5 write / S12 export).

Mirrors the reference GSheetHook surface (reference
fastetl/hooks/gsheet_hook.py:125-152 read, :176-193 write, :229-261
formatting, :288-340 export; operators/gsheet_operator.py:56-103 the
to-table / to-CSV flows) re-expressed for Spark: a worksheet is
driver-side small data that lands as a broadcastable DataFrame with
slugified headers.

The Google API transport is isolated behind ``GSheetClient`` — a
five-method protocol (values/clear/write/metadata/export). Production
wires a pygsheets- or googleapiclient-backed implementation;
``InMemoryGSheetClient`` is the reference implementation used in tests
and documents the exact contract. No Google libraries are imported
here — the engine stays importable in a sealed environment.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from fastetl_spark.operators.copy import slugify_column


class GSheetClient(Protocol):
    """Minimal worksheet transport the hook needs.

    Values are row-major lists of cell strings, as the Sheets API v4
    `values.get` returns them.
    """

    def get_values(self, sheet_name: str) -> list[list[str]]: ...

    def clear(self, sheet_name: str) -> None: ...

    def set_values(self, sheet_name: str, values: list[list[str]], start: str = "A1") -> None: ...

    def modified_time(self) -> dt.datetime: ...

    def export_media(self, mime_type: str) -> bytes: ...


@dataclass
class InMemoryGSheetClient:
    """In-memory GSheetClient: the test double AND the contract spec.
    `sheets` maps sheet_name -> row-major cell grid."""

    sheets: dict[str, list[list[str]]] = field(default_factory=dict)
    modified: dt.datetime = dt.datetime(2024, 1, 1)
    export_payload: bytes = b""
    format_calls: list[dict] = field(default_factory=list)

    def get_values(self, sheet_name: str) -> list[list[str]]:
        if sheet_name not in self.sheets:
            raise KeyError(f"worksheet not found: {sheet_name}")
        return [list(r) for r in self.sheets[sheet_name]]

    def clear(self, sheet_name: str) -> None:
        self.sheets[sheet_name] = []

    def set_values(self, sheet_name: str, values: list[list[str]], start: str = "A1") -> None:
        if start != "A1":
            raise NotImplementedError("stub writes from A1 only")
        self.sheets[sheet_name] = [list(r) for r in values]

    def modified_time(self) -> dt.datetime:
        return self.modified

    def export_media(self, mime_type: str) -> bytes:
        return self.export_payload

    def apply_format(self, sheet_name: str, start: str, end: str, fields: str, cell_json: dict) -> None:
        self.format_calls.append(
            {"sheet": sheet_name, "start": start, "end": end, "fields": fields, "cell": cell_json}
        )


class GSheetHook:
    """Spark-side twin of the reference GSheetHook: same methods, same
    header/slug semantics, DataFrame in place of pandas."""

    def __init__(self, spark: SparkSession, client: GSheetClient):
        self.spark = spark
        self.client = client

    # --- S7: read ---------------------------------------------------------

    def get_gsheet_df(
        self,
        sheet_name: str,
        has_header: bool = True,
        keep_empty_header_columns: bool = False,
    ) -> DataFrame:
        """Worksheet -> DataFrame. First row names the columns
        (slugified, reference gsheet_hook.py:146-150); unnamed columns
        are dropped by default (gsheet_operator.py:60-61). Cells arrive
        as strings — downstream casts are explicit, like every other
        landing-zone source. Ragged rows are padded with NULL."""
        values = self.client.get_values(sheet_name)
        if not values:
            raise ValueError(f"worksheet {sheet_name!r} is empty")
        if has_header:
            raw_header, rows = values[0], values[1:]
        else:
            width = max(len(r) for r in values)
            raw_header, rows = [f"col_{i}" for i in range(width)], values
        header, keep_idx = [], []
        for i, name in enumerate(raw_header):
            slug = slugify_column(str(name))
            if not slug:
                if not keep_empty_header_columns:
                    continue
                slug = f"unnamed_{i}"
            # spreadsheets can repeat headers; suffix duplicates
            base, n = slug, 1
            while slug in header:
                n += 1
                slug = f"{base}_{n}"
            header.append(slug)
            keep_idx.append(i)
        # empty cells land as NULL (the F13 nullif-empty convention)
        padded = [
            tuple((r[i] if i < len(r) and r[i] != "" else None) for i in keep_idx)
            for r in rows
        ]
        schema = ", ".join(f"`{c}` string" for c in header)
        return self.spark.createDataFrame(padded, schema)

    # --- K5: write --------------------------------------------------------

    def set_df_to_gsheet(
        self, df: DataFrame, sheet_name: str, copy_head: bool = True, max_rows: int = 100_000
    ) -> int:
        """Clear-and-write (reference gsheet_hook.py:176-193: wst.clear()
        then set_dataframe from A1). A sheet is driver-side small data;
        `max_rows` guards against collecting a fact table into the
        driver. Returns rows written."""
        rows = df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"refusing to write >{max_rows} rows to a spreadsheet — "
                "a worksheet is not a fact-table sink"
            )
        values: list[list[str]] = []
        if copy_head:
            values.append(list(df.columns))
        values.extend(["" if v is None else str(v) for v in r] for r in rows)
        self.client.clear(sheet_name)
        self.client.set_values(sheet_name, values, start="A1")
        return len(rows)

    # --- freshness gate ---------------------------------------------------

    def check_gsheet_file_update(self, until_date: dt.datetime) -> bool:
        """True iff the file was modified on/after `until_date`'s date
        (reference gsheet_hook.py:211-227)."""
        return self.client.modified_time().date() >= until_date.date()

    # --- formatting -------------------------------------------------------

    def format_sheet(
        self, sheet_name: str, start: str, end: str, fields: str, cell_json: dict
    ) -> None:
        """Apply cell formatting over a range (gsheet_hook.py:229-261) —
        passed through to the client, which owns the API encoding."""
        self.client.apply_format(sheet_name, start, end, fields, cell_json)

    # --- S12: export ------------------------------------------------------

    def export_file(self, file_path: str, mime_type: str) -> None:
        """Export the spreadsheet in `mime_type` and save locally
        (gsheet_hook.py:288-340: files.export_media + save_file)."""
        content = self.client.export_media(mime_type)
        with open(file_path, "wb") as out:
            out.write(content)


# --- operator-shaped wrappers (reference gsheet_operator.py) -------------


@dataclass
class GSheetToTableOperator:
    """Reference GSheetToDbOperator (gsheet_operator.py:30-72): sheet ->
    destination table, empty-header columns dropped, optional constant
    column appended."""

    client: GSheetClient
    sheet_name: str
    dest: dict
    column_name_to_add: str | None = None
    value_to_add: str | None = None
    mode: str = "append"

    def execute(self, spark: SparkSession) -> int:
        from pyspark.sql import functions as F

        from fastetl_spark.api import Engine
        from fastetl_spark.io.writers import write_counted

        df = GSheetHook(spark, self.client).get_gsheet_df(self.sheet_name)
        if self.column_name_to_add:
            df = df.withColumn(self.column_name_to_add, F.lit(self.value_to_add))
        return write_counted(df, lambda d: Engine(spark).write(d, self.dest, mode=self.mode))


@dataclass
class GSheetToCSVOperator:
    """Reference GSheetToCSVOperator (gsheet_operator.py:74-103)."""

    client: GSheetClient
    sheet_name: str
    dest_path: str

    def execute(self, spark: SparkSession) -> int:
        from fastetl_spark.io.writers import write_counted, write_csv

        df = GSheetHook(spark, self.client).get_gsheet_df(self.sheet_name)
        return write_counted(df, lambda d: write_csv(d, self.dest_path))
