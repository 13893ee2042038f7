import seeding as S


def points(inp, which):
    return [p for probe in inp[which] for p in probe["points"]]


def test_same_seed_same_inputs():
    assert S.make_inputs(7) == S.make_inputs(7)


def test_other_seed_other_keys():
    a, b = S.make_inputs(7), S.make_inputs(8)
    # the same table, other keys
    assert a["start"] == b["start"]
    assert a["update_ids"] != b["update_ids"]
    assert a["caption_probe"] != b["caption_probe"]
    for which in ("nightly_probes", "cdc_probes"):
        assert points(a, which) != points(b, which)
        assert [p["ranges"] for p in a[which]] != [p["ranges"] for p in b[which]]


def test_cdc_batch_shape():
    inp = S.make_inputs(3)
    upd = inp["update_ids"]
    fixture = range(inp["start"], inp["start"] + S.N_ROWS)
    assert len(upd) == len(set(upd)) == S.N_UPDATES
    assert all(i in fixture for i in upd)
    # no update lands in the partition the round refreshes first
    assert all(S.date_of(i) != S.date_of(S.REFRESH_DATE_IDX) for i in upd)
    # skew: the 10% hot rows get HOT_UPDATE_SHARE of the updates
    assert sum(i % 10 == 0 for i in upd) == int(S.N_UPDATES * S.HOT_UPDATE_SHARE)
    assert set(inp["caption_probe"]) <= set(upd)
    # the fresh day and the inserts sit past the fixture
    assert inp["extra_start"] == inp["start"] + S.N_ROWS


def test_probe_keys_alternate_present_and_absent():
    inp = S.make_inputs(5)
    present = {S.image_id(i) for i in range(inp["start"], inp["extra_start"] + S.FRESH_ROWS)}
    updated = {S.image_id(i) for i in inp["update_ids"]}
    for which, pool in (("nightly_probes", present), ("cdc_probes", updated)):
        pts = points(inp, which)
        assert [want for _, want in pts[:10]] == [1, 0] * 5
        for key, want in pts[:200]:
            assert (key in pool) == bool(want)
            assert want or key.removesuffix("-absent") in pool


def test_probe_ranges_stay_inside_the_table():
    for probe in S.make_inputs(9)["nightly_probes"]:
        assert len(probe["ranges"]) == S.RANGES_PER_PROBE
        for pos, sel in probe["ranges"]:
            assert sel in S.RANGE_SELECTIVITIES and 0.0 <= pos <= 1.0 - sel
