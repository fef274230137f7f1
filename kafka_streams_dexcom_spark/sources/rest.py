"""REST API ingestion (driver-side), mirroring the reference's producer.

The reference's P1 program refreshes an OAuth2 token and pages EGVs from the
Dexcom API by time range, then produces JSON records to Kafka
(reference: src/main/java/com/github/robertzych/kafka/ProducerDexcom.java:91-141).

Spark shape: ingestion is inherently driver-side (one small HTTP payload per
time window); the payloads land in a DataFrame via ``local_frame`` (rows
held in the plan, no Spark job), are parsed with the declared envelope
schema and exploded into per-EGV rows. At real
scale you shard time ranges across executors with ``mapInPandas`` over a
DataFrame of (start, end) windows — provided here as ``fetch_windows``.

The ``requests``/HTTP dependency is gated: environments without network (or
the library) can still import this module; tests exercise the parse/flatten
logic with injected fixture payloads.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.schemas import EGV_ENVELOPE_SCHEMA
from kafka_streams_dexcom_spark.sources.local import local_frame

DEFAULT_BASE_URL = "https://api.dexcom.com"
EGVS_PATH = "/v2/users/self/egvs"
TOKEN_PATH = "/v2/oauth2/token"


def http_get_json(url: str, headers: dict[str, str]) -> dict:
    """Tiny HTTP GET wrapper (stdlib only; no extra dependencies)."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def refresh_access_token(
    client_id: str,
    client_secret: str,
    refresh_token: str,
    base_url: str = DEFAULT_BASE_URL,
) -> dict:
    """OAuth2 refresh-token grant (reference: ProducerDexcom.java:113-141)."""
    import urllib.parse
    import urllib.request

    body = urllib.parse.urlencode(
        {
            "client_id": client_id,
            "client_secret": client_secret,
            "refresh_token": refresh_token,
            "grant_type": "refresh_token",
            "redirect_uri": "https://localhost",
        }
    ).encode()
    req = urllib.request.Request(base_url + TOKEN_PATH, data=body)
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def envelope_to_df(spark: SparkSession, payloads: list[dict]) -> DataFrame:
    """Fixture-injectable: list of envelope dicts → flat EGV DataFrame.

    Explodes the nested egvs array-of-struct (the reference iterates the
    list and produces one Kafka record per EGV, ProducerDexcom.java:37-60).
    """
    env = local_frame(
        spark, [(json.dumps(p),) for p in payloads], "value string"
    ).select(F.from_json(F.col("value"), EGV_ENVELOPE_SCHEMA).alias("env"))
    return env.select(
        F.col("env.unit").alias("unit"),
        F.col("env.rateUnit").alias("rateUnit"),
        F.explode(F.col("env.egvs")).alias("egv"),
    ).select("unit", "rateUnit", "egv.*")


def fetch_egvs(
    spark: SparkSession,
    access_token: str,
    start_date: str,
    end_date: str,
    base_url: str = DEFAULT_BASE_URL,
    getter: Callable[[str, dict[str, str]], dict] = http_get_json,
) -> DataFrame:
    """Bearer GET of one time range → flat EGV DataFrame
    (reference: ProducerDexcom.java:91-111). ``getter`` is injectable so
    tests run offline."""
    url = f"{base_url}{EGVS_PATH}?startDate={start_date}&endDate={end_date}"
    payload = getter(url, {"authorization": f"Bearer {access_token}"})
    return envelope_to_df(spark, [payload])


def fetch_windows(
    windows_df: DataFrame,
    access_token: str,
    base_url: str = DEFAULT_BASE_URL,
) -> DataFrame:
    """Scale path: DataFrame of (start_date, end_date) windows → EGV rows,
    fetched in parallel on executors via mapInPandas (each task handles a
    slice of windows; Arrow-batched)."""
    import pandas as pd

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for start, end in zip(pdf["start_date"], pdf["end_date"]):
                url = f"{base_url}{EGVS_PATH}?startDate={start}&endDate={end}"
                payload = http_get_json(
                    url, {"authorization": f"Bearer {access_token}"}
                )
                # `or []`: an explicit {"egvs": null} empty window must
                # behave like an absent key (envelope_to_df's explode
                # drops null arrays the same way)
                for egv in payload.get("egvs") or []:
                    rows.append(
                        {
                            "unit": payload.get("unit"),
                            "rateUnit": payload.get("rateUnit"),
                            **{f.name: egv.get(f.name) for f in EGV_ENVELOPE_SCHEMA["egvs"].dataType.elementType.fields},
                        }
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["unit", "rateUnit"]
                + [f.name for f in EGV_ENVELOPE_SCHEMA["egvs"].dataType.elementType.fields]
            )

    out_schema = (
        "unit string, rateUnit string, systemTime string, displayTime string, "
        "value int, realtimeValue int, smoothedValue int, status string, "
        "trend string, trendRate float"
    )
    return windows_df.mapInPandas(fetch_partition, schema=out_schema)
