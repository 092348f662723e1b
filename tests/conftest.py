from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from biosd_feature_annotator_spark.session import get_spark  # noqa: E402
from biosd_feature_annotator_spark.sources.lexicon import load_lexicon  # noqa: E402

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        app_name="kg-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def lexicon():
    return load_lexicon(os.path.join(GOLDEN_DIR, "lexicon.json"))


@pytest.fixture(scope="session")
def synonym_lexicon():
    """A functional, synonym-heavy dictionary whose surfaces collide
    across terms in every way Lexicon resolves: a synonym claimed by two
    terms (first wins), a label displacing an earlier synonym (single-
    and multi-token), a synonym equal to another term's label (the label
    wins), plus a unit and a context term. One hot term (T_HS) owns a
    label, four synonyms and a tokens match."""
    from biosd_feature_annotator_spark.sources.lexicon import Lexicon

    return Lexicon(terms=[
        {"term_id": "T_HS", "label": "Homo sapiens",
         "synonyms": ["human", "h. sapiens", "man", "homo sapiens", "person"],
         "pred": "hasOrganism"},
        {"term_id": "T_MM", "label": "Mus musculus",
         "synonyms": ["mouse", "house mouse", "human"], "pred": "hasOrganism"},
        {"term_id": "T_HM", "label": "House  Mouse",
         "synonyms": ["Homo Sapiens", "field mouse"], "pred": "hasOrganism"},
        {"term_id": "T_PR", "label": "Person", "synonyms": [], "pred": "hasRole"},
        {"term_id": "T_KG", "label": "kilogram", "synonyms": ["kg"], "pred": "(unit)"},
        {"term_id": "T_AGE", "label": "age", "synonyms": ["aged"], "pred": "(context)"},
    ])
