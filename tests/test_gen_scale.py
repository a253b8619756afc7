"""tools/gen_scale.py: the replicate-with-mutation scale-up must preserve
schemas, multiply row counts exactly, keep every FK resolvable, and break
cross-copy document shingle overlap (else the dedup workload collapses
into clone clusters)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

SRC = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scaled") / "sf2x")
    r = subprocess.run(
        [sys.executable, "tools/gen_scale.py", SRC, dst, "2"],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return dst


def test_counts_and_schema(spark, scaled_dir):
    for name, fixed in (("region", True), ("nation", True), ("orders", False),
                        ("lineitem", False), ("documents", False),
                        ("embeddings", False)):
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        dst = spark.read.parquet(f"{scaled_dir}/{name}.parquet")
        assert [f.name for f in dst.schema.fields] == [f.name for f in src.schema.fields]
        mult = 1 if fixed else 2
        assert dst.count() == src.count() * mult, name


def test_fk_integrity(spark, scaled_dir):
    li = spark.read.parquet(f"{scaled_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{scaled_dir}/orders.parquet")
    part = spark.read.parquet(f"{scaled_dir}/part.parquet")
    dangling_o = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).count()
    dangling_p = li.join(part, li.l_partkey == part.p_partkey, "left_anti").count()
    assert dangling_o == 0 and dangling_p == 0
    # key spaces don't collide across copies
    assert orders.select("o_orderkey").distinct().count() == orders.count()


def test_document_copies_share_no_shingles(spark, scaled_dir):
    docs = spark.read.parquet(f"{scaled_dir}/documents.parquet")
    n_src = docs.count() // 2
    a = docs.filter(docs.doc_id == 3).select("text").collect()
    b = docs.filter(docs.doc_id == 3 + n_src).select("text").collect()
    assert a and b

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    sa, sb = shingles(a[0]["text"]), shingles(b[0]["text"])
    assert not (sa & sb), "cross-copy shingle overlap — salting broken"


# r13 tier split (VERDICT r12 #1): scale-generator skew stress (46 s; generator tooling, not engine code)
@pytest.mark.full_suite
def test_hot_pct_plants_join_key_skew(spark, tmp_path):
    """HOT_PCT reroutes ~that share of event rows to user_id 0 without
    changing row counts — the planted hot key the skew bench measures."""
    dst = str(tmp_path / "sfskew")
    r = subprocess.run(
        [sys.executable, "tools/gen_scale.py", SRC, dst, "2", "30"],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    src_ev = spark.read.parquet(f"{SRC}/events.parquet")
    ev = spark.read.parquet(f"{dst}/events.parquet")
    n = ev.count()
    assert n == src_ev.count() * 2
    hot = ev.filter(ev.user_id == 0).count()
    # md5-hash routing: binomial around 30% (the source's own user-0 rows
    # add a sliver on top)
    assert 0.25 < hot / n < 0.36, hot / n
    # determinism: same inputs -> same routing
    dst2 = str(tmp_path / "sfskew2")
    r2 = subprocess.run(
        [sys.executable, "tools/gen_scale.py", SRC, dst2, "2", "30"],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    ev2 = spark.read.parquet(f"{dst2}/events.parquet")
    assert ev.exceptAll(ev2).count() == 0 and ev2.exceptAll(ev).count() == 0
