"""Each scoring rule of the similarity operators has one home.

Pure text, in the style of tests/test_write_path_guard.py: the norm
projection (``vectors._norm_proj``), the exact pair score
(``vectors._PAIR_COS_SQL``), the rank rule (``vectors._top_k``), the
numpy batch matrix (``vectors._np_kernels``), the PQ subvector frame
(``vectors._subvector_rows``) and the numpy quantize-and-guard
(``kmeans_integer_np``'s ``_quantized``). A second copy of any of them
fails here with its count.
"""

from __future__ import annotations

import os

OPS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hive_plan_service_spark",
    "operators",
)


def _text(name: str) -> str:
    with open(os.path.join(OPS, name), encoding="utf-8") as f:
        return f.read()


def _calls(token: str, *names: str) -> int:
    """Occurrences of ``token`` in the modules, not counting its own
    ``def`` line."""
    return sum(
        _text(n).count(token) - _text(n).count(f"def {token}") for n in names
    )


def test_each_similarity_scoring_rule_has_one_home():
    counts = {
        "norm_sql( in vectors.py": (_calls("norm_sql(", "vectors.py"), 1),
        "norm_sql( in dedup.py": (_calls("norm_sql(", "dedup.py"), 0),
        "cos_div_sql(": (_calls("cos_div_sql(", "vectors.py", "dedup.py"), 1),
        "row_number() in vectors.py": (_calls("row_number()", "vectors.py"), 1),
        "row_number() in dedup.py": (_calls("row_number()", "dedup.py"), 0),
        "np.stack(": (_calls("np.stack(", "vectors.py", "kmeans.py"), 1),
        "_subvectors(": (_calls("_subvectors(", "vectors.py"), 1),
        "np.floor((x + offset)": (
            _calls("np.floor((x + offset)", "kmeans.py"), 1
        ),
    }
    wrong = {rule: got for rule, (got, want) in counts.items() if got != want}
    assert not wrong, f"each rule must have exactly one home: {wrong}"


def test_the_one_cosine_division_is_the_pair_score():
    text = _text("vectors.py").replace("def cos_div_sql(", "def _(")
    start = text.index("_PAIR_COS_SQL = (")
    assert start < text.index("cos_div_sql(") < text.index("\n)\n", start)
