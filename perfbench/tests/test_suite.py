import numpy as np
import pandas as pd

import suite


def test_tables_follow_the_seed():
    a, b, c = suite._tables(3), suite._tables(3), suite._tables(4)
    assert a["documents"]["text"] == b["documents"]["text"]
    assert np.array_equal(a["lineitem"]["l_extendedprice"],
                          b["lineitem"]["l_extendedprice"])
    assert a["documents"]["text"] != c["documents"]["text"]


def test_exact_pairs_uses_word_trigram_shingles():
    texts = ["a b c d e", "a b c d f", "x y z", "A  b c D e"]
    pairs = suite.exact_pairs(texts)
    # {abc, bcd, cde} vs {abc, bcd, bdf}: 2 shared of 4
    assert pairs[(0, 1)] == 0.5
    assert pairs[(0, 3)] == 1.0  # case and whitespace are normalized
    assert not any(2 in k for k in pairs)


def test_minhash_check_trips_on_wrong_and_missed_pairs():
    want = {(0, 1): 0.9, (2, 3): 0.6}
    ok = pd.DataFrame({"id_a": [0, 2], "id_b": [1, 3], "jaccard": [0.9, 0.6]})
    assert suite._minhash_errors(ok, want) == []
    # a sketch may miss a low pair, never a near-duplicate
    assert suite._minhash_errors(ok.iloc[:1], want) == []
    assert any("missed" in e for e in suite._minhash_errors(ok.iloc[1:], want))
    wrong = ok.assign(jaccard=[0.8, 0.6])
    assert any("not an exact" in e for e in suite._minhash_errors(wrong, want))


def test_oracle_diff_ignores_row_order_and_float_noise():
    got = pd.DataFrame({"k": [2, 1], "v": [0.30000000000000004, 1.0]})
    want = pd.DataFrame({"v": [1.0, 0.3], "k": [1, 2]})
    assert suite._diff("q", got, want) == []
    assert suite._diff("q", got, want.assign(v=[1.0, 0.31])) != []
