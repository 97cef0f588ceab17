"""Spec-native Iceberg REST commits (round 9, closing the r8 verdict's
"remaining vs a real service" note): when the staged artifact parses as
Iceberg metadata, the committer generates the REAL CommitTableRequest —
assert-table-uuid + assert-ref-snapshot-id requirements from the prior
artifact, and spec update actions (add-snapshot, set-snapshot-ref,
remove-snapshots, add-schema, set-properties, ...) describing the
transition. The in-process server REPLAYS the update actions onto its
own copy of the prior state and rejects (400) any commit whose replayed
result is not congruent with the published artifact — so every engine
verb is proved to fully describe its transition in spec actions, the
property a catalog that materializes metadata itself depends on.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mysoftware_nocnetintel_spark.sources import iceberg as ice
from mysoftware_nocnetintel_spark.sources.catalog import (
    IcebergRestCatalogCommitter,
    use_committer,
)
from mysoftware_nocnetintel_spark.sources.iceberg import (
    drop_iceberg_ref,
    expire_iceberg_snapshots,
    merge_iceberg_rows,
    publish_iceberg_branch,
    rename_iceberg_column,
    rewrite_iceberg_manifests,
    rewrite_iceberg_table,
    tag_iceberg_snapshot,
    update_iceberg_partition_spec,
    write_iceberg_append,
    write_iceberg_equality_deletes,
    write_iceberg_position_deletes,
)
from mysoftware_nocnetintel_spark.sources.readers import read_iceberg_snapshot
from mysoftware_nocnetintel_spark.sources.rest_spec import (
    apply_table_updates,
    congruence_mismatches,
    diff_iceberg_metadata,
)

from .rest_catalog_server import rest_catalog_server


def _df(spark, lo, hi, extra=None):
    rows = [(i, f"v{i}") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "id bigint, val string")


# ------------------------------------------------------------- pure units


def test_diff_create_and_append_shapes():
    new1 = {
        "format-version": 2,
        "table-uuid": "u-1",
        "location": "/t",
        "snapshots": [{"snapshot-id": 7, "sequence-number": 1}],
        "current-snapshot-id": 7,
        "schemas": [{"type": "struct", "schema-id": 0,
                     "fields": [{"id": 1, "name": "id", "type": "long",
                                 "required": False}]}],
        "current-schema-id": 0,
        "properties": {"writer": "w"},
    }
    reqs, upds = diff_iceberg_metadata(None, new1)
    assert {"type": "assert-create"} in reqs
    acts = [u["action"] for u in upds]
    assert "assign-uuid" in acts and "add-snapshot" in acts
    assert {"action": "set-snapshot-ref", "ref-name": "main",
            "type": "branch", "snapshot-id": 7} in upds
    # replay reproduces the artifact
    derived = apply_table_updates(None, upds)
    assert congruence_mismatches(derived, new1) == []

    new2 = dict(
        new1,
        snapshots=new1["snapshots"] + [{"snapshot-id": 9,
                                        "sequence-number": 2}],
        **{"current-snapshot-id": 9},
    )
    reqs2, upds2 = diff_iceberg_metadata(new1, new2)
    assert {"type": "assert-table-uuid", "uuid": "u-1"} in reqs2
    assert {"type": "assert-ref-snapshot-id", "ref": "main",
            "snapshot-id": 7} in reqs2
    derived2 = apply_table_updates(new1, upds2)
    assert congruence_mismatches(derived2, new2) == []


def test_diff_expiration_and_refs():
    base = {
        "format-version": 2,
        "table-uuid": "u-2",
        "location": "/t",
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1},
            {"snapshot-id": 2, "sequence-number": 2},
        ],
        "current-snapshot-id": 2,
        "properties": {},
    }
    expired = dict(
        base, snapshots=[{"snapshot-id": 2, "sequence-number": 2}]
    )
    reqs, upds = diff_iceberg_metadata(base, expired)
    assert {"action": "remove-snapshots", "snapshot-ids": [1]} in upds
    assert congruence_mismatches(
        apply_table_updates(base, upds), expired
    ) == []
    tagged = dict(
        base,
        refs={"rel": {"snapshot-id": 1, "type": "tag"}},
    )
    reqs_t, upds_t = diff_iceberg_metadata(base, tagged)
    # creating a ref asserts it did not exist (snapshot-id null)
    assert {"type": "assert-ref-snapshot-id", "ref": "rel",
            "snapshot-id": None} in reqs_t
    assert {"action": "set-snapshot-ref", "ref-name": "rel",
            "type": "tag", "snapshot-id": 1} in upds_t
    assert congruence_mismatches(
        apply_table_updates(base, upds_t), tagged
    ) == []


def test_replay_rejects_contradictory_updates():
    base = {
        "format-version": 2, "table-uuid": "u", "location": "/t",
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1}],
        "current-snapshot-id": 1, "properties": {},
    }
    with pytest.raises(ValueError, match="already exists"):
        apply_table_updates(
            base,
            [{"action": "add-snapshot",
              "snapshot": {"snapshot-id": 1, "sequence-number": 1}}],
        )
    with pytest.raises(ValueError, match="unknown snapshot"):
        apply_table_updates(
            base,
            [{"action": "set-snapshot-ref", "ref-name": "main",
              "type": "branch", "snapshot-id": 99}],
        )
    with pytest.raises(ValueError, match="removing unknown"):
        apply_table_updates(
            base, [{"action": "remove-snapshots", "snapshot-ids": [42]}]
        )


# ----------------------------------------- the verb-matrix conformance


def test_full_verb_matrix_is_spec_conformant(spark, tmp_path):
    """Every Iceberg verb the engine ships commits through the
    spec-native path, and the server's replay+congruence gate accepts
    every one — proving the generated update actions fully describe
    each verb's transition. The server counts spec-validated commits so
    a silent fallback to the version-addressed dialect would fail the
    final assertion."""
    with rest_catalog_server() as (endpoint, stats):
        root = str(tmp_path / "conf")
        committer = IcebergRestCatalogCommitter(endpoint)
        with use_committer(committer):
            write_iceberg_append(_df(spark, 0, 4).coalesce(1), root)
            write_iceberg_append(_df(spark, 4, 8).coalesce(1), root)
            # schema-evolving append (additive column)
            evolved = spark.createDataFrame(
                [(100, "v100", 1.5)], "id bigint, val string, score double"
            )
            write_iceberg_append(evolved.coalesce(1), root)
            # MOR deletes, both kinds
            write_iceberg_position_deletes(spark, root, F.col("id") == 0)
            write_iceberg_equality_deletes(
                spark, root, spark.createDataFrame([(1,)], "id bigint")
            )
            # upsert merge
            merge_iceberg_rows(
                spark,
                root,
                spark.createDataFrame(
                    [(2, "patched", None)],
                    "id bigint, val string, score double",
                ),
                on=["id"],
            )
            # maintenance: compaction + manifest consolidation
            rewrite_iceberg_table(spark, root)
            rewrite_iceberg_manifests(root)
            # refs: tag, WAP branch, publish, drop
            tag_iceberg_snapshot(root, "release-1")
            write_iceberg_append(
                spark.createDataFrame(
                    [(200, "v200", None), (201, "v201", None)],
                    "id bigint, val string, score double",
                ).coalesce(1),
                root,
                branch="audit",
            )
            publish_iceberg_branch(root, "audit")
            drop_iceberg_ref(root, "release-1")
            # snapshot expiration (ref-pinned snapshots kept)
            expire_iceberg_snapshots(root, keep_last=2)
            # metadata-only schema + spec changes
            rename_iceberg_column(root, "val", "label")
            update_iceberg_partition_spec(root, ("bucket(4, id)",))
            write_iceberg_append(
                spark.createDataFrame(
                    [(300, "v300", None)],
                    "id bigint, label string, score double",
                ).coalesce(1),
                root,
            )
        # every version swap above went through the spec-native gate
        assert stats.get("spec_commits", 0) >= 14, stats.get("spec_commits")
        assert stats["spec_commits"] == stats["commits"], (
            "some commit fell back to the version-addressed dialect: "
            f"{stats['spec_commits']} of {stats['commits']}"
        )
        # ... and the CLIENT observed zero fallbacks too (round-10 task:
        # the deployment-visible counter, not just the server's tally)
        assert committer.stats["spec_native_fallbacks"] == 0
        # and the table still reads correctly end-to-end
        got = sorted(
            (r.id, r.label)
            for r in read_iceberg_snapshot(spark, root).collect()
        )
        ids = [i for i, _ in got]
        assert 0 not in ids and 1 not in ids  # deletes held
        assert (2, "patched") in got  # merge held
        assert {200, 201} <= set(ids)  # published branch rows visible
        assert 300 in ids  # post-evolution append


def test_spec_native_conflict_is_ref_based(spark, tmp_path):
    """Two commits staged from the same prior: the loser is rejected by
    the assert-ref-snapshot-id requirement (spec semantics), not just
    the storage backstop — the server's ref state moved."""
    import base64
    import json

    with rest_catalog_server() as (endpoint, stats):
        root = str(tmp_path / "race")
        c = IcebergRestCatalogCommitter(endpoint)
        with use_committer(c):
            write_iceberg_append(_df(spark, 0, 3).coalesce(1), root)
            write_iceberg_append(_df(spark, 3, 6).coalesce(1), root)
        # replay the LAST commit's exact body at the next version: same
        # prior assertions, but the server's main ref has moved on
        last = [
            r["body"]
            for r in stats["requests"]
            if any(
                u.get("action") == "publish-metadata"
                for u in r.get("body", {}).get("updates", [])
            )
        ][-1]
        (pub,) = [
            u
            for u in last["updates"]
            if u["action"] == "publish-metadata"
        ]
        meta = json.loads(base64.b64decode(pub["metadata-b64"]))
        stale_req = [
            r
            for r in last["requirements"]
            if r["type"] == "assert-ref-snapshot-id"
        ]
        assert stale_req, "spec-native commit carried no ref assertion"
        # bump ids so storage cannot be the thing that rejects
        meta2 = dict(meta)
        meta2["snapshots"] = meta["snapshots"] + [
            {
                **meta["snapshots"][-1],
                "snapshot-id": 424242,
                "sequence-number": meta["snapshots"][-1].get(
                    "sequence-number", 0
                )
                + 1,
            }
        ]
        meta2["current-snapshot-id"] = 424242
        import os

        v3 = os.path.join(root, "metadata", "v9.metadata.json")
        from mysoftware_nocnetintel_spark.sources.catalog import (
            CatalogCommitConflict,
        )
        from mysoftware_nocnetintel_spark.sources.rest_spec import (
            diff_iceberg_metadata,
        )

        # requirements derived from the STALE prior (v1's metadata)
        first_pub = [
            u
            for u in stats["requests"][0]["body"]["updates"]
            if u["action"] == "publish-metadata"
        ][0]
        stale_prior = json.loads(base64.b64decode(first_pub["metadata-b64"]))
        reqs, upds = diff_iceberg_metadata(stale_prior, meta2)
        body = {
            "identifier": {
                "namespace": ["nocnetintel"],
                "name": os.path.basename(root),
            },
            "requirements": reqs,
            "updates": upds
            + [
                {
                    "action": "publish-metadata",
                    "format": "iceberg",
                    "version": 9,
                    "metadata-location": v3,
                    "metadata-b64": base64.b64encode(
                        json.dumps(meta2).encode()
                    ).decode(),
                }
            ],
        }
        status, err = c._post(c._table_route(os.path.basename(root)), body)
        assert status == 409 and err["type"] == "CommitFailedException"
        assert "ref main" in err["message"]
        assert not os.path.exists(v3)  # nothing landed


def test_incongruent_updates_are_rejected(spark, tmp_path):
    """A commit whose update actions do NOT describe the published
    artifact (here: the add-snapshot action is omitted) is rejected 400
    before anything lands — the conformance gate itself."""
    import base64
    import json
    import os

    with rest_catalog_server() as (endpoint, stats):
        root = str(tmp_path / "gap")
        c = IcebergRestCatalogCommitter(endpoint)
        with use_committer(c):
            write_iceberg_append(_df(spark, 0, 3).coalesce(1), root)
        last_pub = [
            u
            for r in stats["requests"]
            for u in r.get("body", {}).get("updates", [])
            if u.get("action") == "publish-metadata"
        ][-1]
        prior = json.loads(base64.b64decode(last_pub["metadata-b64"]))
        new = dict(prior)
        new["snapshots"] = prior["snapshots"] + [
            {
                **prior["snapshots"][-1],
                "snapshot-id": 777,
                "sequence-number": 2,
            }
        ]
        new["current-snapshot-id"] = 777
        reqs, upds = diff_iceberg_metadata(prior, new)
        gapped = [u for u in upds if u["action"] != "add-snapshot"]
        v2 = os.path.join(root, "metadata", "v2.metadata.json")
        body = {
            "identifier": {
                "namespace": ["nocnetintel"],
                "name": os.path.basename(root),
            },
            "requirements": reqs,
            "updates": gapped
            + [
                {
                    "action": "publish-metadata",
                    "format": "iceberg",
                    "version": 2,
                    "metadata-location": v2,
                    "metadata-b64": base64.b64encode(
                        json.dumps(new).encode()
                    ).decode(),
                }
            ],
        }
        status, err = c._post(c._table_route(os.path.basename(root)), body)
        assert status == 400, (status, err)
        assert "do not describe" in err["message"] or err["type"] in (
            "ValidationException",
        )
        assert not os.path.exists(v2)


# ------------------------------------------------- read path: loadTable


def test_load_table_discovery_round_trip(spark, tmp_path):
    """Table DISCOVERY through the catalog: commit via REST, then
    resolve the table by NAME (GET LoadTableResult) and read it from the
    returned metadata-location — the reader never needs the storage
    layout a priori."""
    import os

    with rest_catalog_server(token="tok") as (endpoint, _stats):
        root = str(tmp_path / "disco")
        c = IcebergRestCatalogCommitter(endpoint, token="tok")
        with use_committer(c):
            write_iceberg_append(_df(spark, 0, 5).coalesce(1), root)
            write_iceberg_position_deletes(spark, root, F.col("id") == 4)
        loaded = c.load_table("disco")
        meta_loc = loaded["metadata-location"]
        assert meta_loc.endswith(".metadata.json")
        # the returned location IS the latest committed version
        assert os.path.exists(meta_loc)
        table_root = os.path.dirname(os.path.dirname(meta_loc))
        got = sorted(
            r.id for r in read_iceberg_snapshot(spark, table_root).collect()
        )
        assert got == [0, 1, 2, 3]
        # spec LoadTableResult carries the metadata body too
        assert loaded["metadata"]["table-uuid"]
        with pytest.raises(KeyError, match="no table"):
            c.load_table("never-committed")
        bad = IcebergRestCatalogCommitter(endpoint, token="wrong")
        with pytest.raises(RuntimeError, match="HTTP 401"):
            bad.load_table("disco")


# ------------------------------------------- property fuzz: diff∘replay


def test_diff_replay_congruence_fuzz():
    """Property: for ANY engine-shaped metadata transition, replaying
    diff_iceberg_metadata's update actions onto the prior reproduces the
    new artifact (congruence == []). Randomized over snapshot adds/
    removals, main moves, named-ref create/move/drop, property set/
    remove, schema widening, spec addition — seeded, 200 cases."""
    import random

    from mysoftware_nocnetintel_spark.sources.rest_spec import (
        _refs_view,
    )

    rng = random.Random(20260816)

    def mk_schema(sid, n_fields):
        return {
            "type": "struct",
            "schema-id": sid,
            "fields": [
                {"id": i + 1, "name": f"c{i}", "type": "long",
                 "required": False}
                for i in range(n_fields)
            ],
        }

    for case in range(200):
        n_snaps = rng.randint(1, 5)
        snaps = [
            {"snapshot-id": 100 + i, "sequence-number": i + 1}
            for i in range(n_snaps)
        ]
        prior = {
            "format-version": 2,
            "table-uuid": f"u-{case}",
            "location": "/t",
            "snapshots": snaps,
            "current-snapshot-id": snaps[-1]["snapshot-id"],
            "schemas": [mk_schema(0, rng.randint(1, 3))],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "properties": {
                k: f"v{rng.randint(0, 3)}"
                for k in rng.sample(["a", "b", "c", "d"], rng.randint(0, 3))
            },
        }
        if rng.random() < 0.4:
            prior["refs"] = {
                "pin": {"snapshot-id": snaps[0]["snapshot-id"],
                        "type": "tag"}
            }

        new = json.loads(json.dumps(prior))  # deep copy
        # mutate: maybe add a snapshot (and usually move main to it)
        if rng.random() < 0.8:
            sid = 1000 + case
            new["snapshots"] = new["snapshots"] + [
                {"snapshot-id": sid,
                 "sequence-number": n_snaps + 1}
            ]
            if rng.random() < 0.9:
                new["current-snapshot-id"] = sid
        # maybe expire the oldest non-current snapshot
        if rng.random() < 0.4 and len(new["snapshots"]) > 2:
            keep_ids = {new["current-snapshot-id"]} | {
                r["snapshot-id"] for r in _refs_view(new).values()
                if isinstance(r, dict) and "snapshot-id" in r
            }
            victims = [s for s in new["snapshots"]
                       if s["snapshot-id"] not in keep_ids]
            if victims:
                new["snapshots"] = [
                    s for s in new["snapshots"] if s != victims[0]
                ]
        # maybe create/move/drop a named ref (to a live snapshot)
        r = rng.random()
        live_ids = [s["snapshot-id"] for s in new["snapshots"]]
        if r < 0.3:
            new.setdefault("refs", {})["aux"] = {
                "snapshot-id": rng.choice(live_ids), "type": "branch"
            }
        elif r < 0.4 and new.get("refs"):
            new["refs"] = {}
        # maybe touch properties
        if rng.random() < 0.5:
            props = dict(new.get("properties") or {})
            if props and rng.random() < 0.5:
                props.pop(sorted(props)[0])
            else:
                props[f"k{case % 5}"] = "x"
            new["properties"] = props
        # maybe widen the current schema in place (engine convention)
        if rng.random() < 0.3:
            cur = new["schemas"][0]
            new["schemas"] = [mk_schema(0, len(cur["fields"]) + 1)]
        # maybe evolve the partition spec
        if rng.random() < 0.2:
            new["partition-specs"] = new["partition-specs"] + [
                {"spec-id": 1,
                 "fields": [{"name": "c0_bucket", "transform": "bucket[4]",
                             "source-id": 1, "field-id": 1000}]}
            ]
            new["default-spec-id"] = 1

        reqs, upds = diff_iceberg_metadata(prior, new)
        derived = apply_table_updates(prior, upds)
        mism = congruence_mismatches(derived, new)
        assert mism == [], (case, mism, upds)
        # requirements always carry the uuid; every modified ref asserted
        assert {"type": "assert-table-uuid",
                "uuid": prior["table-uuid"]} in reqs
        before_refs, after_refs = _refs_view(prior), _refs_view(new)
        for name in set(before_refs) | set(after_refs):
            if before_refs.get(name) != after_refs.get(name):
                assert any(
                    q["type"] == "assert-ref-snapshot-id"
                    and q["ref"] == name
                    for q in reqs
                ), (case, name, reqs)


# --------------------------------------- round-10 advisor/verdict units


def test_congruence_accepts_foreign_main_as_explicit_ref():
    """A published artifact carrying an explicit refs["main"] entry (the
    foreign-writer shape _refs_view normalizes) must be CONGRUENT with a
    replayed state that tracks main only in current-snapshot-id —
    round-10 advisor: the raw-field comparison spuriously rejected it."""
    base = {
        "format-version": 2,
        "table-uuid": "u-main",
        "location": "/t",
        "snapshots": [{"snapshot-id": 7, "sequence-number": 1}],
        "current-snapshot-id": 7,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": []}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "properties": {},
    }
    derived = json.loads(json.dumps(base))  # engine shape: no refs map
    published = json.loads(json.dumps(base))
    published["refs"] = {"main": {"snapshot-id": 7, "type": "branch"}}
    assert congruence_mismatches(derived, published) == []
    # and a REAL ref disagreement is still caught through the view
    published["refs"]["pin"] = {"snapshot-id": 7, "type": "tag"}
    assert congruence_mismatches(derived, published) == ["refs"]


def test_spec_native_fallback_counter_and_warning(tmp_path, caplog):
    """Each spec-native → version-addressed fallback increments the
    committer's stats counter; the first one logs a warning (round-10
    verdict task 3: the conflict-detection mode must be observable)."""
    import logging

    c = IcebergRestCatalogCommitter("http://127.0.0.1:1")
    fake = str(tmp_path / "t" / "metadata" / "v3.metadata.json")
    with caplog.at_level(
        logging.WARNING, logger="mysoftware_nocnetintel_spark.sources.catalog"
    ):
        # not JSON at all
        assert c._spec_native_request(fake, b"\x00notjson", 3, False) == (
            None,
            None,
        )
        # JSON but not Iceberg metadata
        assert c._spec_native_request(fake, b"{}", 3, False) == (None, None)
        # Iceberg-shaped but the prior artifact is unreadable
        meta = json.dumps({"table-uuid": "u", "location": "/t"}).encode()
        assert c._spec_native_request(fake, meta, 3, False) == (None, None)
    assert c.stats["spec_native_fallbacks"] == 3
    warned = [r for r in caplog.records if "fell back" in r.getMessage()]
    assert len(warned) == 1  # first fallback only


def test_congruence_rejects_inconsistent_explicit_main():
    """Round-10 review finding 1: an artifact whose explicit
    refs["main"] disagrees with its OWN current-snapshot-id must be
    flagged — the view would silently overwrite main with the head,
    and a foreign reader honoring refs.main would diverge from one
    honoring the head."""
    base = {
        "format-version": 2,
        "table-uuid": "u-im",
        "location": "/t",
        "snapshots": [
            {"snapshot-id": 7, "sequence-number": 1},
            {"snapshot-id": 9, "sequence-number": 2},
        ],
        "current-snapshot-id": 9,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": []}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "properties": {},
    }
    derived = json.loads(json.dumps(base))
    published = json.loads(json.dumps(base))
    published["refs"] = {"main": {"snapshot-id": 7, "type": "branch"}}
    assert "refs" in congruence_mismatches(derived, published)
    # a CONSISTENT explicit main still normalizes (the advisor fix holds)
    published["refs"]["main"]["snapshot-id"] = 9
    assert congruence_mismatches(derived, published) == []
