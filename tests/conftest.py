from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bike_data_flow_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def pinned(spark) -> tuple[int, set[int]]:
    """What the session holds pinned: (CacheManager entries, ids of the
    persistent RDDs — caches and local checkpoints). A leak reads as more
    entries or a new id. Compare id sets, not counts: the ContextCleaner
    collecting an older pin meanwhile cannot hide a new one, so no GC or
    sleep is needed."""
    entries = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    return entries, set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


# --- raw wire-format fixtures (FIXTURES.md §1 grammar) ---------------------

HEADER = (
    "#id,1705147845.123|3600|-3600,name,lat,lon,bikes,spaces,installed,"
    "locked,temporary,total_docks,givesbonus_acceptspedelecs_fbbattlevel,pedelecs"
)

GOOD_ROWS = [
    "001,1705147845.123|3600|-3600,Station 1,51.1089,17.0377,5,10,true,false,false,15,false,2",
    "002,1705147845.456|3600|-3600,Station 2,51.1097,17.0314,0,12,true,false,false,12,true,3",
    "fb10001,1705147845.789|3600|-3600,BIKE 64731,51.1105,17.0251,1,0,true,false,false,1,true,0",
]

MALFORMED_COMPOSITE = (
    "003,invalid_timestamp,Station 3,51.1,17.0,1,2,true,false,false,3,false,0"
)
SHORT_ROW = "004,corrupted_row_data"
BAD_NUMERIC = (
    "005,1705147845.999|3600|-3600,Station 5,invalid_lat,17.0,1,2,true,false,false,3,false,0"
)
EMPTY_PEDELEC_FLAG = (
    "006,1705147846.000|3600|-3600,Station 6,51.12,17.04,2,3,True,False,false,5,,1"
)


def write_raw_file(root: Path, dt: str, ts: str, rows: list[str]) -> Path:
    d = root / f"dt={dt}"
    d.mkdir(parents=True, exist_ok=True)
    p = d / f"wrm_stations_{ts}.txt"
    p.write_text("\n".join([HEADER] + rows) + "\n", encoding="utf-8")
    return p


@pytest.fixture()
def landing(tmp_path: Path) -> Path:
    root = tmp_path / "raw"
    write_raw_file(root, "2025-05-01", "2025-05-01_10-00-00", GOOD_ROWS)
    write_raw_file(
        root,
        "2025-05-01",
        "2025-05-01_10-05-00",
        GOOD_ROWS[:1] + [MALFORMED_COMPOSITE, SHORT_ROW, EMPTY_PEDELEC_FLAG],
    )
    write_raw_file(root, "2025-05-02", "2025-05-02_09-00-00", GOOD_ROWS[1:])
    return root
