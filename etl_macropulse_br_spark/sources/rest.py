"""REST/JSON sources — BCB SGS series and IBGE UF dimension.

Spark-first rewrites of ``extract.py:15-68``. HTTP happens on the
driver (the payloads are control-plane sized: one series ≈ hundreds
of rows, the UF dim is 27 rows). Every frame built here goes through
:func:`_local_frame`: the payload is typed on the driver into a
``pyarrow.Table`` column by column, with the explicit schema, and
becomes a ``LocalRelation`` in the plan — no ``PythonRDD``, so no task
that reads it starts a Python worker, and building it runs no job.
The fetch function is injectable so tests run fully offline (SURVEY
§7.1 step 4).

``extract_bcb_many`` fetches its series concurrently on a driver
thread pool: the calls are network-bound (the reference budgets
30 s per request, ``extract.py:28``), so N serial round-trips take
about one round-trip of wall time. Every fetch settles before one
error names every failed series, and the fetched rows land in ONE
local frame. ``extract_bcb_sgs_series`` is the one-series reference
path it is pinned row-equal to.
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Callable, Iterable
from datetime import datetime
from functools import partial
from urllib.request import urlopen

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_macropulse_br_spark.functions.exprs import (
    parse_date_ddmmyyyy,
    parse_ptbr_number,
)
from etl_macropulse_br_spark.operators.util import settle_all

BCB_URL = (
    "https://api.bcb.gov.br/dados/serie/bcdata.sgs.{sid}/dados"
    "?formato=json&dataInicial={start}&dataFinal={end}"
)
IBGE_URL = "https://servicodados.ibge.gov.br/api/v1/localidades/estados"
HTTP_TIMEOUT_S = 30  # extract.py:28,56
BCB_FETCH_THREADS = 16  # extract_bcb_many's fetch pool cap

FetchFn = Callable[[str], list[dict]]

BCB_MANY_RAW_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.LongType()),
        T.StructField("series_name", T.StringType()),
        T.StructField("data", T.StringType()),
        T.StructField("valor", T.StringType()),
    ]
)

BCB_SILVER_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.LongType()),
        T.StructField("series_name", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("value", T.DoubleType()),
    ]
)

UF_DIM_SCHEMA = T.StructType(
    [
        T.StructField("uf_id", T.LongType()),
        T.StructField("uf_sigla", T.StringType()),
        T.StructField("uf_nome", T.StringType()),
        T.StructField("regiao_nome", T.StringType()),
    ]
)


def _default_fetch(url: str) -> list[dict]:
    with urlopen(url, timeout=HTTP_TIMEOUT_S) as resp:  # noqa: S310
        if resp.status >= 400:
            raise RuntimeError(f"HTTP {resp.status} for {url}")
        return json.loads(resp.read().decode("utf-8"))


_SURROGATE = re.compile("[\ud800-\udfff]")


def _arrow_column(name: str, values: list, pa_type: pa.DataType) -> pa.Array:
    try:
        return pa.array(values, type=pa_type)
    except UnicodeEncodeError:
        # a lone surrogate (a JSON "\ud800" escape) has no UTF-8 form;
        # store U+FFFD for each one, as createDataFrame over Python rows
        # does
        return pa.array(
            [
                _SURROGATE.sub("\ufffd", v) if isinstance(v, str) else v
                for v in values
            ],
            type=pa_type,
        )
    except OverflowError:
        bad = next(
            (v for v in values
             if isinstance(v, int) and not -(2**63) <= v < 2**63),
            None,
        )
        raise ValueError(
            f"column {name!r}: {bad} is out of range for {pa_type}"
        ) from None


def _local_frame(
    spark: SparkSession,
    schema: T.StructType,
    columns: list[list] | None = None,
) -> DataFrame:
    """Driver-side columns → DataFrame over a ``LocalRelation``.

    Each list in ``columns`` (one per schema field, all empty when
    ``None``) becomes an Arrow array of the field's type, so the frame
    is an Arrow-backed ``LocalRelation``: no ``PythonRDD`` in its
    lineage, no job to build it. Values Arrow cannot take get the
    outcome ``createDataFrame`` over Python rows gives: a lone
    surrogate is stored as U+FFFD, and a long out of range raises a
    ``ValueError``, here naming the column."""
    arrow_schema = to_arrow_schema(schema)
    if columns is None:
        columns = [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [
            _arrow_column(f.name, values, f.type)
            for f, values in zip(arrow_schema, columns)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _ddmmyyyy(iso_date: str) -> str:
    """ISO → dd/mm/YYYY request param (``extract.py:23-24``)."""
    return datetime.fromisoformat(iso_date).strftime("%d/%m/%Y")


def extract_bcb_sgs_series(
    spark: SparkSession,
    series_id: int,
    series_name: str,
    start_date: str,
    end_date: str,
    fetch: FetchFn | None = None,
) -> DataFrame:
    """One SGS series → typed silver-shaped DataFrame.

    Reference ``extract.py:15-47``: GET JSON list of
    ``{"data": "dd/mm/YYYY", "valor": "pt-BR number"}``, type it,
    short-circuit empty results to a typed empty frame.
    """
    fetch = fetch or _default_fetch
    url = BCB_URL.format(
        sid=series_id, start=_ddmmyyyy(start_date), end=_ddmmyyyy(end_date)
    )
    records = fetch(url)
    if not records:
        return _local_frame(spark, BCB_SILVER_SCHEMA)
    n = len(records)
    raw = _local_frame(
        spark,
        BCB_MANY_RAW_SCHEMA,
        [
            [series_id] * n,
            [series_name] * n,
            [str(r.get("data", "")) for r in records],
            [str(r.get("valor", "")) for r in records],
        ],
    )
    return raw.select(
        "series_id",
        "series_name",
        parse_date_ddmmyyyy("data").alias("date"),
        parse_ptbr_number("valor").alias("value"),
    )


_LONG_TEXT = re.compile(r"([+-]?\d+)(?:\.\d*)?")


def _as_long(value: object) -> int | None:
    """Driver-side twin of Spark's non-ANSI ``cast(... as long)`` for
    the JSON scalars a payload carries: integers and booleans pass,
    doubles and numeric strings (optional sign, surrounding blanks, a
    fraction) truncate toward zero, anything else is NULL."""
    if isinstance(value, int):
        return int(value)
    if isinstance(value, float):
        return int(value) if math.isfinite(value) else None
    if isinstance(value, str):
        m = _LONG_TEXT.fullmatch(value.strip())
        return int(m.group(1)) if m else None
    return None


def _as_string(value: object) -> str | None:
    """Driver-side twin of ``cast(... as string)`` on an inferred JSON
    scalar: strings pass, other scalars render as JSON text."""
    if value is None or isinstance(value, str):
        return value
    return json.dumps(value)


def extract_ibge_uf_dim(
    spark: SparkSession, fetch: FetchFn | None = None
) -> DataFrame:
    """IBGE states → 27-row dimension (``extract.py:50-68``).

    The reference flattens nested JSON with ``pd.json_normalize``;
    the 27 records are typed on the driver into ONE local frame with
    the explicit schema — no schema-inference job. A record without
    ``regiao`` gets a NULL ``regiao_nome``.
    """
    fetch = fetch or _default_fetch
    records = fetch(IBGE_URL)
    ids, siglas, nomes, regioes = [], [], [], []
    for r in records or []:
        regiao = r.get("regiao")
        ids.append(_as_long(r.get("id")))
        siglas.append(_as_string(r.get("sigla")))
        nomes.append(_as_string(r.get("nome")))
        regioes.append(_as_string(
            regiao.get("nome") if isinstance(regiao, dict) else None
        ))
    uf_dim = _local_frame(
        spark, UF_DIM_SCHEMA, [ids, siglas, nomes, regioes]
    )
    # one partition, as the former one-slice JSON read had: the dim's
    # bronze, silver and catalog copies stay one file each
    return uf_dim.coalesce(1)


def extract_bcb_many(
    spark: SparkSession,
    series: Iterable[tuple[int, str]],
    start_date: str,
    end_date: str,
    fetch: FetchFn | None = None,
) -> DataFrame:
    """Fan-out extraction of many series (``main.py:35-43``),
    fetched CONCURRENTLY and typed as ONE frame.

    - The HTTP calls run on a driver thread pool of at most
      ``BCB_FETCH_THREADS`` workers — they are network-bound (30 s
      timeout budget each, ``extract.py:28``). The injectable
      ``fetch`` keeps tests offline; it must be thread-safe (the
      default ``urlopen`` is).
    - ALL fetches settle first; then ONE error names every failed
      series, so a flaky series cannot hide a second failure behind
      a fail-fast, and no partial frame is produced.
    - The typed output is built from ONE local frame (columns filled
      in the loop over the fetch results, see :func:`_local_frame`)
      + one projection — no per-series frames, no left-deep
      ``unionByName`` tree. Row order = series order then
      record order, the exact rows the serial per-series path
      produces (pinned by the concurrent≡serial differential in
      tests/test_pipeline.py).
    """
    fetch = fetch or _default_fetch
    # normalize ONCE, exactly like the reference's control-table loop
    # (``main.py:36-37``: int(series_id), str(series_name)), so a
    # loosely-typed control table hits the same URLs and rows
    series = [(int(sid), str(name)) for sid, name in series]
    if not series:
        return _local_frame(spark, BCB_SILVER_SCHEMA)
    start, end = _ddmmyyyy(start_date), _ddmmyyyy(end_date)
    results = settle_all(
        "extract_bcb_many",
        "series",
        [
            (
                f"series {sid} ({name!r})",
                partial(fetch, BCB_URL.format(sid=sid, start=start, end=end)),
            )
            for sid, name in series
        ],
        width=BCB_FETCH_THREADS,
    )
    sids, names, datas, valors = [], [], [], []
    for (sid, name), recs in zip(series, results):
        for r in recs or ():
            sids.append(sid)
            names.append(name)
            datas.append(str(r.get("data", "")))
            valors.append(str(r.get("valor", "")))
    raw = _local_frame(
        spark, BCB_MANY_RAW_SCHEMA, [sids, names, datas, valors]
    )
    return raw.select(
        "series_id",
        "series_name",
        parse_date_ddmmyyyy("data").alias("date"),
        parse_ptbr_number("valor").alias("value"),
    )
