"""Google Sheets mirror egress (K5, sheets_sync.py:13-59).

The reference recreates one worksheet per warehouse table on every sync
(delete-if-exists → add → single A1 range update,
app/db/sheets_sync.py:24-47) and treats any Sheets failure as non-fatal
to the sync (etl_service.py:737-741). The engine side of that contract —
stringified full-refresh export, non-fatal error handling — lives in
``ParquetWarehouse.export_stringified`` and ``EtlPipeline.mirror_all``;
this module is the missing last hop: the worksheet-replacement call
sequence against a Sheets client.

No network or gspread exists in this environment, so the adapter is
written against a DUCK-TYPED client contract and pinned by a recorded
API double in tests/test_sheets_sink.py: every line here executes
under test; the live
``gspread`` connection is the one documented seam
(``connect_gspread``) a deployment fills in.

Client contract (gspread's surface, narrowed to what the mirror uses):

- ``spreadsheet.worksheet(title)`` → worksheet, or raises ``KeyError``
  (``connect_gspread`` maps gspread's WorksheetNotFound onto KeyError so
  the adapter never imports gspread types);
- ``spreadsheet.del_worksheet(ws)``;
- ``spreadsheet.add_worksheet(title=, rows=, cols=)`` → worksheet;
- ``worksheet.update(range, values)``.

Scale note: a Sheets mirror is driver-side egress bounded by the Sheets
cell ceiling (10M cells) — only sane for small dimension tables, which is
all the reference mirrors. Anything larger belongs in the warehouse, not
a spreadsheet; ``mirror_all``'s non-fatal contract keeps an oversized
table from failing the sync.
"""

from __future__ import annotations

from collections.abc import Callable


class SheetsMirror:
    """Full-refresh worksheet-per-table mirror over a Sheets client."""

    def __init__(self, spreadsheet):
        self.spreadsheet = spreadsheet

    def upsert_table(self, table: str, values: list[list[str]]) -> None:
        """Replace worksheet ``table`` with ``values`` ([[header], *rows]).

        Mirrors sheets_sync.py:24-47: empty exports are a no-op (the
        reference skips rather than clearing, :29-31), an existing sheet
        is deleted and recreated (simplest idempotent full refresh), and
        the payload lands in ONE update call — per-cell writes would hit
        the Sheets API quota ~rows×cols times harder."""
        if not values or len(values) <= 1:
            return
        try:
            existing = self.spreadsheet.worksheet(table)
        except KeyError:
            existing = None
        if existing is not None:
            self.spreadsheet.del_worksheet(existing)
        ws = self.spreadsheet.add_worksheet(
            title=table, rows=len(values) + 10, cols=max(len(values[0]), 1)
        )
        ws.update("A1", values)

    def exporter(self) -> Callable[[str, list[list[str]]], None]:
        """The ``EtlPipeline.exporter`` hook (mirror errors stay non-fatal
        there, by the pipeline's contract)."""
        return self.upsert_table


def connect_gspread(credentials_file: str, sheet_id: str) -> SheetsMirror:
    """Live connection seam: service-account auth → spreadsheet handle
    (sheets_sync.py:13-23). Requires the ``gspread`` package — absent in
    this environment, so the seam is executed in tests against an
    injected gspread API double (tests/test_sheets_sink.py) that pins
    the auth/open sequence and the WorksheetNotFound → KeyError mapping;
    only the real network hop runs exclusively in a deployment."""
    try:
        import gspread  # type: ignore
    except ImportError as e:
        raise ImportError(
            "gspread is not installed; SheetsMirror works against any "
            "client matching the documented contract — connect one, or "
            "install gspread for the live path"
        ) from e

    gc = gspread.service_account(filename=credentials_file)
    sh = gc.open_by_key(sheet_id)

    class _Wrapped:
        def worksheet(self, title):
            try:
                return sh.worksheet(title)
            except gspread.exceptions.WorksheetNotFound:
                raise KeyError(title) from None

        def del_worksheet(self, ws):
            sh.del_worksheet(ws)

        def add_worksheet(self, title, rows, cols):
            return sh.add_worksheet(title=title, rows=rows, cols=cols)

    return SheetsMirror(_Wrapped())
