"""Within-round URL dedupe keeps the first-enqueued row.

When two listing pages fetched in one round link the same next page,
the engine keeps the child row with the smallest ``seq`` — the
reference's ``Pagination.add_item`` keeps the first one enqueued
(oracle: ``fixtures.sequential_oracle``'s ``enqueued`` check).  The
surviving row's ``seq``, ``priority``, ``depth`` and ``authority`` decide
when and under which politeness budget the page is fetched, so they
must not depend on the shuffle partitioning.

The fixture is two seeds of the austria profile on different hosts:
austria's own listing and a mirror listing (clone authority
``austria_2``) whose only link is austria's page 2.  Which of the two
seeds comes first in seed order (and so has the smaller ``seq``) is
swapped between cases.
"""

import os
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crawler_spark.extract import parse_listing, seq_seed
from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CrawlRun

MIRROR = "https://mirror.example.org/austria/list"


def _web(out_dir: str, mirror_priority: int) -> str:
    """Seeds + pages of austria's listing and its mirror under
    ``out_dir``; returns the URL both listings link as their next page."""
    fix = fixture_dir("sf0.001")
    seeds = pq.read_table(os.path.join(fix, "seeds.parquet"))
    pages = pq.read_table(os.path.join(fix, "pages.parquet"))
    sd = seeds.to_pandas()
    austria = sd[sd.authority == "austria"].iloc[[0]]
    mirror = austria.assign(authority="austria_2", url=MIRROR, priority=mirror_priority)
    pq.write_table(
        pa.Table.from_pandas(
            pd.concat([austria, mirror]), schema=seeds.schema, preserve_index=False
        ),
        os.path.join(out_dir, "seeds.parquet"),
    )
    pd_pages = pages.to_pandas()
    page = pd_pages[pd_pages.url == austria.url.iloc[0]]
    html = bytes(page.html.iloc[0]).decode("utf-8")
    # the mirror lists no item, only austria's next link
    mirror_html = re.sub(r'<tr class="bocListDataRow">.*?</tr>', "", html)
    mirror_page = page.assign(url=MIRROR, html=[mirror_html.encode("utf-8")])
    pq.write_table(
        pa.Table.from_pandas(
            pd.concat([page, mirror_page]), schema=pages.schema, preserve_index=False
        ),
        os.path.join(out_dir, "pages.parquet"),
    )
    (nxt,) = parse_listing("austria", austria.url.iloc[0], html)["next_pages"]
    assert parse_listing("austria_2", MIRROR, mirror_html) == {
        "items": [], "next_pages": [nxt]
    }
    return nxt[0]


@pytest.mark.parametrize("partitions", [1, 8])
@pytest.mark.parametrize("mirror_first", [True, False], ids=["mirror_first", "austria_first"])
def test_shared_next_page_keeps_the_first_enqueued_row(
    spark, tmp_path, partitions, mirror_first
):
    web = str(tmp_path / "web")
    os.makedirs(web)
    mirror_priority = -1 if mirror_first else 1
    page2 = _web(web, mirror_priority)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        run = CrawlRun(
            spark,
            state_dir=str(tmp_path / "state"),
            pages_path=os.path.join(web, "pages.parquet"),
            seeds_path=os.path.join(web, "seeds.parquet"),
            robots_path=os.path.join(fixture_dir("sf0.001"), "robots.parquet"),
            as_of=AS_OF,
        )
        run.init()
        assert run.round(1)["scheduled"] == 2
        rows = (
            run.pending.read(spark)
            .filter(F.col("url") == page2)
            .select("seq", "priority", "depth", "authority")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # seed 0 (the first in seed order) enqueued page 2 first
    winner = ("austria_2", mirror_priority) if mirror_first else ("austria", 0)
    assert [tuple(r) for r in rows] == [(seq_seed(0, 2), winner[1], 0, winner[0])]
