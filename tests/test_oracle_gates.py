"""Gates on the oracle side of the driver contract: the rounding-margin
audit (tools/oracle_round_audit.py) and the committed oracle corpus
(tools/gen_synth_corpus.py). Both tools print or regenerate; these
tests turn what they check into failures."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from gen_synth_corpus import OUT, corpus_table  # noqa: E402
from oracle_round_audit import ULP_FLAG, audit, is_inner  # noqa: E402

SF01 = "/root/testdata/sf0.01"


def test_every_rounded_oracle_column_clears_the_tie_margin():
    """Every round(x, d) output column of a registered or queued oracle
    sits at least ULP_FLAG ulps away from a .5 tie at sf0.01, so the two
    engines cannot round it differently. A digits=0 alias with no
    measurement that is not an output column of the original query is a
    CTE-internal micro-quantizer, and the audit skips it the same way; a
    micro-quantized output column missing from the de-rounded result
    fails."""
    rows = [(name, alias, m) for name, alias, digits, m, _, output in audit(SF01)
            if not is_inner(digits, m, output)]
    missing = [(name, alias) for name, alias, m in rows if m is None]
    assert not missing, f"audited columns missing from the output: {missing}"
    flagged = [(name, alias, m[1]) for name, alias, m in rows
               if m[1] < ULP_FLAG]
    assert not flagged, f"columns within {ULP_FLAG:g} ulps of a tie: {flagged}"
    assert rows


def test_committed_oracle_corpus_matches_the_synthesizer(spark):
    """tests/golden/synth_corpus.parquet is synth_transcripts(spark, 2000)
    exactly: same schema, rows and order."""
    want = pq.read_table(OUT)
    got = corpus_table(spark)
    assert got.schema == want.schema
    assert got.num_rows == want.num_rows
    assert got.equals(want)
