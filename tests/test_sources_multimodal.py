"""REST source adapters (sources/rest.py), multimodal plumbing
(operators/multimodal.py), and drift detection (pipelines/classifier.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stacktrend_spark.operators.multimodal import (
    decode_media,
    encode_ppm,
    encode_vid0,
    encode_wav,
    extract_features,
    media_params,
    sample_frame_offsets,
    synthesize_media,
    synthesize_payload,
)
from stacktrend_spark.pipelines.classifier import detect_drift
from stacktrend_spark.pipelines.schemas import (
    BRONZE_ACTIVITY_SCHEMA,
    BRONZE_REPOS_SCHEMA,
    CLASSIFICATION_SCHEMA,
)
from stacktrend_spark.sources.rest import (
    RateLimiter,
    fetch_paginated,
    repo_activity,
    repos_to_bronze,
    search_repositories,
    user_repositories,
)
from stacktrend_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# REST transport fakes
# ---------------------------------------------------------------------------


def _repo(i: int, stars: int = 5000) -> dict:
    return {
        "id": i,
        "name": f"repo{i}",
        "full_name": f"owner/repo{i}",
        "owner": {"login": "owner", "type": "User"},
        "description": f"desc {i}",
        "created_at": "2024-01-01T00:00:00Z",
        "updated_at": f"2024-06-{i % 28 + 1:02d}T00:00:00Z",
        "pushed_at": "2024-06-01T00:00:00Z",
        "language": "Python",
        "stargazers_count": stars,
        "watchers_count": stars,
        "forks_count": 10,
        "open_issues_count": 3,
        "size": 100,
        "default_branch": "main",
        "topics": ["ml", "python"],
        "license": {"name": "MIT"},
        "has_wiki": True,
        "has_pages": False,
        "archived": False,
        "disabled": False,
    }


def search_transport(path, params):
    assert path == "/search/repositories"
    page = params["page"]
    if page > 2:
        return {"items": []}
    # pages overlap → exercises distributed dedup; one low-star repo
    base = (page - 1) * 3
    items = [_repo(base + j) for j in range(4)] + [_repo(99, stars=10)]
    return {"items": items}


def user_transport(path, params):
    assert path == "/users/alice/repos"
    return [_repo(i) for i in range(5)] if params["page"] == 1 else []


def activity_transport(path, params):
    if path.endswith("/commits"):
        return [
            {"id": f"c{i}", "author": "alice", "date": "2024-06-01T10:00:00Z",
             "title": f"commit {i}", "additions": 10, "deletions": 2,
             "changed_files": 1, "state": None}
            for i in range(3)
        ]
    if path.endswith("/issues"):
        return [
            {"id": f"i{i}", "author": "bob", "date": "2024-06-02T10:00:00Z",
             "title": f"issue {i}", "additions": None, "deletions": None,
             "changed_files": None, "state": "open"}
            for i in range(2)
        ]
    raise AssertionError(path)


def test_search_source_dedup_and_star_filter(spark):
    df = search_repositories(
        spark, search_transport, ["q1"], "2024-06-01", "2024-06-01T12:00:00",
        star_threshold=1000, max_pages=10, per_page=5,
    )
    rows = {r.repository_id for r in df.collect()}
    # ids 0..6 from overlapping pages, dedup'd; id 99 filtered (10 stars)
    assert rows == set(range(7))
    assert df.columns == [f.name for f in BRONZE_REPOS_SCHEMA.fields]
    assert df.schema["created_at"].dataType.typeName() == "timestamp"


def test_user_repos_source(spark):
    df = user_repositories(spark, user_transport, "alice", "2024-06-01", "2024-06-01T12:00:00")
    assert df.count() == 5
    assert df.filter(F.col("owner_login") == "owner").count() == 5


def test_activity_source_top_n(spark):
    repos = user_repositories(spark, user_transport, "alice", "2024-06-01", "2024-06-01T12:00:00")
    acts = repo_activity(
        spark, activity_transport, repos, "2024-06-01", "2024-06-01T12:00:00", top_n=2
    )
    assert acts.columns == [f.name for f in BRONZE_ACTIVITY_SCHEMA.fields]
    # 2 repos × (3 commits + 2 issues)
    assert acts.count() == 10
    assert acts.filter(F.col("activity_type") == "commit").count() == 6
    assert acts.schema["activity_date"].dataType.typeName() == "timestamp"


def test_rate_limiter_paces_without_wallclock():
    sleeps: list[float] = []
    t = {"now": 0.0}

    def clock():
        return t["now"]

    def sleeper(s):
        sleeps.append(s)
        t["now"] += s

    rl = RateLimiter(per_minute=60, sleeper=sleeper, clock=clock)
    for _ in range(3):
        rl.wait()
        t["now"] += 0.1  # request takes 100ms
    assert len(sleeps) == 2 and all(abs(s - 0.9) < 1e-9 for s in sleeps)


def test_fetch_paginated_stops_on_short_page():
    calls = []

    def transport(path, params):
        calls.append(params["page"])
        return [{"x": 1}] * (3 if params["page"] == 1 else 0)

    out = fetch_paginated(transport, "/x", {}, max_pages=10, per_page=3)
    assert len(out) == 3 and calls == [1, 2]


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_codec_round_trips():
    """Every encoder's output parses back to the encoded parameters."""
    img = decode_media(encode_ppm(12, 34, seed=5), "image")
    assert (img["width"], img["height"]) == (12, 34)
    assert img["frame_size"] == 12 * 34 * 3
    assert img["body_checksum"] == sum((7 * i + 5) % 256 for i in range(12 * 34 * 3))

    wav = decode_media(encode_wav(16000, 2, 100, seed=7), "audio")
    assert (wav["sample_rate"], wav["n_channels"], wav["bit_depth"]) == (16000, 2, 16)
    assert wav["n_samples"] == 100
    assert wav["body_offset"] == 44

    vid = decode_media(encode_vid0(8, 9, 4, seed=3), "video")
    assert (vid["width"], vid["height"], vid["n_frames"]) == (8, 9, 4)
    assert vid["frame_size"] == 8 * 9 * 3


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_media(b"\x00\x01\x02\x03" * 20, "image")
    with pytest.raises(ValueError):
        decode_media(b"\x00\x01\x02\x03" * 20, "audio")
    with pytest.raises(ValueError):
        decode_media(b"junk", "video")
    with pytest.raises(ValueError):
        decode_media(b"P6\n1 1\n255\n\x00\x00\x00", "font")


def test_multimodal_features_and_frames(spark, sf_dir, request):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = synthesize_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media).cache()
    request.addfinalizer(feats.unpersist)
    row = feats.filter(F.col("doc_id") == 0).first()
    text0 = docs.filter(F.col("doc_id") == 0).first().text
    assert row.media_type == "image"  # 0 % 3
    p = media_params(0, len(text0))
    assert (row.width, row.height) == (p["w"], p["h"])
    assert row.n_bytes == len(synthesize_payload(0, len(text0)))
    frames = sample_frame_offsets(feats)
    per_doc = frames.groupBy("doc_id").count().join(feats, "doc_id")
    assert per_doc.filter(F.col("count") != F.col("n_frames")).count() == 0
    # offsets land inside the payload, at/after the parsed body start
    joined = frames.join(feats, ["doc_id", "media_type"])
    assert joined.filter(F.col("frame_offset") >= F.col("n_bytes")).count() == 0
    assert joined.filter(F.col("frame_offset") < F.col("body_offset")).count() == 0


# ---------------------------------------------------------------------------
# drift detection
# ---------------------------------------------------------------------------


def test_detect_drift_severities(spark):
    old = spark.createDataFrame(
        [
            (1, "AI", "llm_tools", 0.9),
            (2, "AI", "llm_tools", 0.9),
            (3, "AI", "llm_tools", 0.5),
            (4, "AI", "llm_tools", 0.9),
            (5, "AI", "llm_tools", 0.9),
        ],
        CLASSIFICATION_SCHEMA,
    )
    new = spark.createDataFrame(
        [
            (1, "AI", "llm_tools", 0.9),        # unchanged → absent
            (2, "ML", "machine_learning", 0.9),  # high
            (3, "ML", "machine_learning", 0.9),  # medium (old conf low)
            (4, "ML", "machine_learning", 0.4),  # medium (new conf low)
            (5, "AI", "agentic_ai", 0.9),        # low (subcategory only)
        ],
        CLASSIFICATION_SCHEMA,
    )
    out = {r.repository_id: r.drift_severity for r in detect_drift(old, new).collect()}
    assert out == {2: "high", 3: "medium", 4: "medium", 5: "low"}


def test_fetch_distributed_runs_executor_side(spark):
    """The manifest-driven fetch must run via Arrow (MapInPandas) and
    return one payload per request row."""
    import json as _json

    from stacktrend_spark.sources.rest import fetch_distributed

    # nested closure: cloudpickle ships it by VALUE, so executors don't
    # need the tests directory on their import path
    def _fake_transport_factory():
        def transport(path: str, params: dict):
            return {"path": path, "page": params.get("page", 0), "items": [1, 2, 3]}

        return transport

    manifest = spark.createDataFrame(
        [(f"/repos/{i}", _json.dumps({"page": i})) for i in range(12)],
        "path string, params_json string",
    ).repartition(4)
    out = fetch_distributed(manifest, _fake_transport_factory, requests_per_minute=10**9)
    rows = out.collect()
    assert len(rows) == 12
    payload = _json.loads(next(r["payload_json"] for r in rows if r["path"] == "/repos/3"))
    assert payload == {"path": "/repos/3", "page": 3, "items": [1, 2, 3]}
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()


def test_patch_sums_reassemble_to_body_checksum(spark, sf_dir):
    """Σ patch sums per image == the decoder's body checksum — the
    patch grid partitions the pixel array exactly (no gap/overlap)."""
    from stacktrend_spark.operators.multimodal import (
        extract_features,
        patch_grid,
        synthesize_media,
    )
    from stacktrend_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    grid_tot = (
        patch_grid(media)
        .groupBy("doc_id")
        .agg(F.sum("patch_sum").alias("s"))
    )
    feats = extract_features(media).filter(F.col("media_type") == "image")
    joined = feats.join(grid_tot, "doc_id").select(
        "doc_id", "body_checksum", "s"
    )
    bad = joined.filter(F.col("body_checksum") != F.col("s")).count()
    assert bad == 0 and joined.count() > 0


def test_audio_windows_partition_sample_stream(spark, sf_dir):
    """Window n_samples sum == total PCM samples per doc, and each
    window's |sum| <= sum_abs <= n * 32768."""
    from stacktrend_spark.operators.multimodal import (
        audio_windows,
        extract_features,
        synthesize_media,
    )
    from stacktrend_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media(docs)
    wins = audio_windows(media)
    bad = wins.filter(
        (F.abs(F.col("sum_samples")) > F.col("sum_abs"))
        | (F.col("sum_abs") > F.col("n_samples") * 32768)
        | (F.col("peak") > 32768)
    ).count()
    assert bad == 0
    tot = wins.groupBy("doc_id").agg(F.sum("n_samples").alias("n"))
    feats = extract_features(media).filter(F.col("media_type") == "audio")
    mismatch = (
        feats.join(tot, "doc_id")
        .filter(F.col("n") != F.col("n_samples") * F.col("n_channels"))
        .count()
    )
    assert mismatch == 0 and tot.count() > 0


def test_python_datasource_partitions_and_volume(spark, sf_dir):
    """The Python Data Source must parallelize: 8 executor-side
    partitions, 10k rows total, schema as declared."""
    from stacktrend_spark.sources.pyfeed import (
        N_PARTITIONS,
        N_ROWS,
        SyntheticFeedDataSource,
    )

    try:
        spark.dataSource.register(SyntheticFeedDataSource)
    except Exception:
        pass
    feed = spark.read.format("synthetic_feed").load()
    assert feed.rdd.getNumPartitions() == N_PARTITIONS
    assert feed.count() == N_ROWS
    assert [f.name for f in feed.schema.fields] == [
        "event_id",
        "kind",
        "score_cents",
    ]


def test_scene_diff_decoder_matches_closed_form(spark, sf_dir):
    """The decode kernel's L1 must equal the synthetic body's closed
    form for a hand-computed case, and every emitted video must have
    at least one frame pair."""
    from stacktrend_spark.plans.northstar import multimodal_scene_diff

    rows = multimodal_scene_diff(spark, sf_dir).collect()
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    for d, r in list(by_id.items())[:5]:
        w, h, nf = 8 + d % 16, 8 + (3 * d) % 16, 1 + d % 8
        assert r["n_frames"] == nf >= 2
        fs = w * h * 3
        assert r["frame_size"] == fs
        want = sum(
            abs(((7 * ((f + 1) * fs + j) + d) % 256) - ((7 * (f * fs + j) + d) % 256))
            for f in range(nf - 1)
            for j in range(fs)
        )
        assert r["interframe_l1_total"] == want
