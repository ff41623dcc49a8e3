from perfbench.workloads import traced_round


def test_traced_rounds_alternate_from_the_first():
    """The first measured round always runs, so a traced run always
    traces one round (and with it the scan and the enumerate)."""
    assert [traced_round(r) for r in range(5)] == [False, True, False,
                                                   True, False]
