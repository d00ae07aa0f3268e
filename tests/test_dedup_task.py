"""Lifecycle tests for the YAML-native dedup task type
(operators/dedup.py): full-mode output must hash-match an independent
DuckDB-oracle + union-find model, and incremental mode must maintain
the signature/band index across runs with stable match results.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.operators import RunArguments, TaskContext
from sayn_spark.operators.dedup import DedupTask

SF = "/root/testdata/sf0.001"


@pytest.fixture
def ctx(spark, tmp_path):
    return TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={"sf_dir": SF},
        connections={},
        project_dir=tmp_path,
    )


def _task(ctx, name, cfg):
    t = DedupTask(name, cfg, ctx)
    t.config()
    t.run()
    return t


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = min(ru, rv), max(ru, rv)
            parent[hi] = lo
    return parent


def _oracle_minhash_pairs(con, threshold):
    """DuckDB replica of the engine's minhash probe (same shingles,
    same LCG permutations, same bands) over view ``corpus``."""
    from sayn_spark.functions.dedup import (
        _N_HASHES,
        _SQL_MH_BANDS,
        _SQL_SHINGLES,
        _SQL_SIG,
    )

    sql = f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus WHERE len({_SQL_SHINGLES}) > 0
),
sigs AS (SELECT doc_id, {_SQL_SIG} AS sig FROM sh),
bands AS {_SQL_MH_BANDS.format(src="sigs")},
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id > b.doc_id
)
SELECT id_a, id_b FROM candidates
JOIN sigs sa ON sa.doc_id = id_a
JOIN sigs sb ON sb.doc_id = id_b
WHERE CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2])) AS DOUBLE)
      / {_N_HASHES} >= {threshold}
"""
    return [(a, b) for a, b in con.execute(sql).fetchall()]


def test_dedup_task_full_exact(ctx, spark):
    """Exact dedup through the task layer: keeps one min-id doc per
    identical-text group — checked against a DuckDB hash-group oracle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    ctx.db.replace_table("dd_exact_src", corpus)
    _task(
        ctx,
        "dd_exact",
        {"source": "dd_exact_src", "destination": "dd_exact_out", "method": "exact"},
    )
    got = {r.doc_id for r in spark.table("dd_exact_out").collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW d AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        r[0]
        for r in con.execute(
            """
            WITH corpus AS (
              SELECT doc_id, text FROM d
              UNION ALL SELECT doc_id + 100000, text FROM d)
            SELECT MIN(doc_id) FROM corpus GROUP BY md5(text)
            """
        ).fetchall()
    }
    assert got == want


def test_dedup_task_full_minhash_matches_oracle(ctx, spark):
    """Full-mode minhash dedup end-to-end: the task's kept set must
    equal DuckDB-oracle pairs -> union-find -> min-per-cluster — the
    registered-query oracle mechanism applied to the task layer."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz qq")).alias("text"),
        )
    )
    ctx.db.replace_table("dd_mh_src", corpus)
    _task(
        ctx,
        "dd_mh",
        {
            "source": "dd_mh_src",
            "destination": "dd_mh_out",
            "method": "minhash",
            "threshold": 0.5,
        },
    )
    got = {r.doc_id for r in spark.table("dd_mh_out").collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW d AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW corpus AS SELECT doc_id, text FROM d "
        "UNION ALL SELECT doc_id + 100000, text || ' zz qq' FROM d"
    )
    pairs = _oracle_minhash_pairs(con, 0.5)
    parent = _union_find(pairs)
    all_ids = {r[0] for r in con.execute("SELECT doc_id FROM corpus").fetchall()}
    roots = {}
    for n in parent:
        x = n
        while parent[x] != x:
            x = parent[x]
        roots.setdefault(x, set()).add(n)
    dropped = {n for members in roots.values() for n in members} - set(roots)
    assert got == all_ids - dropped
    assert len(dropped) > 0  # the planted mutations actually deduped


def test_dedup_task_keep_best(ctx, spark):
    """keep=best retains the highest-score doc per cluster (ties ->
    lowest id), not the lowest id."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", 0.2),
        (2, "alpha beta gamma delta epsilon zeta eta theta", 0.9),
        (3, "alpha beta gamma delta epsilon zeta eta theta", 0.9),
        (4, "completely different text about storage engines and joins", 0.1),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string, quality double")
    ctx.db.replace_table("dd_best_src", df)
    _task(
        ctx,
        "dd_best",
        {
            "source": "dd_best_src",
            "destination": "dd_best_out",
            "method": "exact",
            "keep": "best",
            "score_column": "quality",
        },
    )
    got = {r.doc_id for r in spark.table("dd_best_out").collect()}
    assert got == {2, 4}


def _full(**kw):
    return {"source": "t", "destination": "o", **kw}


def _inc(**kw):
    return {
        "source": "t",
        "mode": "incremental",
        "index_table": "i",
        "matches_table": "m",
        **kw,
    }


# one case per raise in DedupTask.config (each config breaks exactly one
# rule), then the cases folded in from the per-round validation tests;
# the message follows the "dedup task 'bad': " prefix
_REJECTS = [
    pytest.param(
        {},
        "dedup task 'bad' needs source",
        id='needs-source',
    ),
    pytest.param(
        {'source': 't'},
        "dedup task 'bad' needs destination",
        id='needs-destination',
    ),
    pytest.param(
        {'source': 't', 'destination': 'o', 'mode': 'nope'},
        'mode must be full|incremental',
        id='mode',
    ),
    pytest.param(
        _full(method='nope'),
        "method must be one of ('exact', 'minhash', 'jaccard', "
        "'simhash', 'containment', 'semantic', 'editdistance', "
        "'passages', 'lines', 'phash')",
        id='method',
    ),
    pytest.param(
        _full(threshold=1.5),
        'threshold must be in (0, 1]',
        id='threshold-high',
    ),
    pytest.param(
        _full(threshold=0),
        'threshold must be in (0, 1]',
        id='threshold-zero',
    ),
    pytest.param(
        _full(keep='nope'),
        'keep must be min|best|soft',
        id='keep',
    ),
    pytest.param(
        _inc(keep='soft'),
        'keep=soft is corpus-relative (cluster sizes) — full mode only',
        id='soft-incremental',
    ),
    pytest.param(
        _inc(keep='min'),
        'keep applies to mode: full only — incremental ingest keeps '
        'first-arrival documents and its matches are gated by the '
        "method's own metric (threshold / max_hamming / max_edit)",
        id='incremental-keep',
    ),
    pytest.param(
        _inc(score_column='q'),
        'score_column applies to mode: full only — incremental ingest '
        'keeps first-arrival documents and its matches are gated by the '
        "method's own metric (threshold / max_hamming / max_edit)",
        id='incremental-score-column',
    ),
    pytest.param(
        _inc(verify='estimate'),
        'verify applies to mode: full only — incremental ingest keeps '
        'first-arrival documents and its matches are gated by the '
        "method's own metric (threshold / max_hamming / max_edit)",
        id='incremental-verify',
    ),
    pytest.param(
        _full(verify='nope'),
        'verify must be estimate|exact',
        id='verify',
    ),
    pytest.param(
        _full(method='passages', window_tokens=1),
        'window_tokens must be >= 2',
        id='window-tokens',
    ),
    pytest.param(
        _full(method='passages', keep='best', score_column='q'),
        'keep/verify do not apply to method=passages (lines/spans are '
        'removed, documents kept)',
        id='passages-keep',
    ),
    pytest.param(
        _full(method='passages', verify='exact'),
        'keep/verify do not apply to method=passages (lines/spans are '
        'removed, documents kept)',
        id='passages-verify',
    ),
    pytest.param(
        _full(method='lines', keep='soft'),
        'keep/verify do not apply to method=lines (lines/spans are '
        'removed, documents kept)',
        id='lines-keep',
    ),
    pytest.param(
        _full(method='lines', verify='estimate'),
        'keep/verify do not apply to method=lines (lines/spans are '
        'removed, documents kept)',
        id='lines-verify',
    ),
    pytest.param(
        _full(method='lines', min_line_docs=1),
        'min_line_docs must be >= 2',
        id='min-line-docs',
    ),
    pytest.param(
        _full(method='phash', max_hamming=65),
        'max_hamming must be in [0, 64]',
        id='max-hamming-range',
    ),
    pytest.param(
        _full(method='simhash', max_hamming=-1),
        'max_hamming must be in [0, 64]',
        id='max-hamming-negative',
    ),
    pytest.param(
        _full(method='minhash', n_bands=8),
        'n_bands applies to method=simhash|phash only (the banded '
        '64-bit signatures)',
        id='n-bands-scope',
    ),
    pytest.param(
        _full(method='simhash', n_bands=7),
        'n_bands must divide 64 and be in [1, 16] (wider band sets '
        'explode the combo probe plan)',
        id='simhash-n-bands',
    ),
    pytest.param(
        _full(method='simhash', n_bands=32),
        'n_bands must divide 64 and be in [1, 16] (wider band sets '
        'explode the combo probe plan)',
        id='simhash-n-bands-wide',
    ),
    pytest.param(
        _full(method='simhash', n_bands=8, max_hamming=8),
        'method=simhash needs max_hamming < n_bands for exact recall by '
        'pigeonhole (got max_hamming=8, n_bands=8) — raise n_bands or '
        'lower the radius',
        id='simhash-pigeonhole',
    ),
    pytest.param(
        _full(method='simhash', n_bands=4),
        'method=simhash needs max_hamming < n_bands for exact recall by '
        'pigeonhole (got max_hamming=6, n_bands=4) — raise n_bands or '
        'lower the radius',
        id='simhash-pigeonhole-default-radius',
    ),
    pytest.param(
        _full(method='simhash', threshold=0.8),
        'method=simhash is verified by Hamming distance (max_hamming), '
        'not threshold/verify',
        id='simhash-threshold',
    ),
    pytest.param(
        _full(method='simhash', verify='exact'),
        'method=simhash is verified by Hamming distance (max_hamming), '
        'not threshold/verify',
        id='simhash-verify',
    ),
    pytest.param(
        _full(method='minhash', max_edit=4),
        'max_edit applies to method=editdistance only',
        id='max-edit-scope',
    ),
    pytest.param(
        _full(method='jaccard', block_chars=8),
        'block_chars applies to method=editdistance only',
        id='block-chars-scope',
    ),
    pytest.param(
        _full(method='simhash', block_keys=['prefix']),
        'block_keys applies to method=editdistance only',
        id='block-keys-scope',
    ),
    pytest.param(
        _full(method='exact', max_compare_chars=100),
        'max_compare_chars applies to method=editdistance only',
        id='max-compare-chars-scope',
    ),
    pytest.param(
        _full(method='editdistance', max_edit=0),
        'max_edit/block_chars must be >= 1',
        id='max-edit',
    ),
    pytest.param(
        _full(method='editdistance', block_chars=0),
        'max_edit/block_chars must be >= 1',
        id='block-chars',
    ),
    pytest.param(
        _full(method='editdistance', max_compare_chars=0),
        'max_compare_chars must be >= 1',
        id='max-compare-chars',
    ),
    pytest.param(
        _full(method='editdistance', block_keys=['middle']),
        'block_keys must be a non-repeating subset of [prefix, suffix], '
        "got ['middle']",
        id='block-keys-unknown',
    ),
    pytest.param(
        _full(method='editdistance', block_keys=[]),
        'block_keys must be a non-repeating subset of [prefix, suffix], '
        'got []',
        id='block-keys-empty',
    ),
    pytest.param(
        _full(method='editdistance', block_keys=['prefix', 'prefix']),
        'block_keys must be a non-repeating subset of [prefix, suffix], '
        "got ['prefix', 'prefix']",
        id='block-keys-repeated',
    ),
    pytest.param(
        _full(method='editdistance', threshold=0.9),
        'method=editdistance is verified by Levenshtein distance '
        '(max_edit), not threshold/verify',
        id='editdistance-threshold',
    ),
    pytest.param(
        _full(method='editdistance', verify='estimate'),
        'method=editdistance is verified by Levenshtein distance '
        '(max_edit), not threshold/verify',
        id='editdistance-verify',
    ),
    pytest.param(
        _full(method='minhash', max_ratio=8),
        'max_ratio applies to method=containment only',
        id='max-ratio-scope',
    ),
    pytest.param(
        _full(method='containment', max_ratio=16),
        "max_ratio must be 'auto' or one of (8, 32)",
        id='max-ratio',
    ),
    pytest.param(
        _full(method='minhash', spread_check='measure'),
        'spread_check applies to method=containment only',
        id='spread-check-scope',
    ),
    pytest.param(
        _full(method='containment', spread_check='maybe'),
        "spread_check must be one of ('measure', 'warn', 'strict', "
        "'skip')",
        id='spread-check',
    ),
    pytest.param(
        _full(method='containment', verify='exact'),
        'method=containment always verifies exactly (overlap '
        'coefficient on candidate shingle sets) — verify does not apply',
        id='containment-verify',
    ),
    pytest.param(
        _full(method='semantic', cell_cap=0),
        'cell_cap must be >= 1',
        id='cell-cap',
    ),
    pytest.param(
        _full(method='semantic', min_cosine=1.5),
        'min_cosine must be in (0, 1]',
        id='min-cosine-high',
    ),
    pytest.param(
        _full(method='semantic', min_cosine=0),
        'min_cosine must be in (0, 1]',
        id='min-cosine-zero',
    ),
    pytest.param(
        _full(method='exact', embedding_column='e'),
        'embedding_column applies to method=semantic only',
        id='embedding-column-scope',
    ),
    pytest.param(
        _full(method='exact', label_column='l'),
        'label_column applies to method=semantic only',
        id='label-column-scope',
    ),
    pytest.param(
        _full(method='exact', min_cosine=0.99),
        'min_cosine applies to method=semantic only',
        id='min-cosine-scope',
    ),
    pytest.param(
        _full(method='minhash', cell_cap=4),
        'cell_cap applies to method=semantic only',
        id='cell-cap-scope',
    ),
    pytest.param(
        _full(method='semantic', threshold=0.9),
        'method=semantic reads embedding_column and thresholds on '
        'min_cosine — threshold/verify/text_column do not apply',
        id='semantic-threshold',
    ),
    pytest.param(
        _full(method='semantic', verify='exact'),
        'method=semantic reads embedding_column and thresholds on '
        'min_cosine — threshold/verify/text_column do not apply',
        id='semantic-verify',
    ),
    pytest.param(
        _full(method='semantic', text_column='body'),
        'method=semantic reads embedding_column and thresholds on '
        'min_cosine — threshold/verify/text_column do not apply',
        id='semantic-text-column',
    ),
    pytest.param(
        _full(method='phash', on_decode_error='maybe'),
        'on_decode_error must be fail|skip',
        id='on-decode-error',
    ),
    pytest.param(
        _full(method='minhash', on_decode_error='skip'),
        'on_decode_error applies to method=phash only',
        id='on-decode-error-scope',
    ),
    pytest.param(
        _full(method='minhash', payload_column='p'),
        'payload_column applies to method=phash only',
        id='payload-column-scope',
    ),
    pytest.param(
        _full(method='minhash', max_hamming=6),
        'max_hamming applies to method=phash|simhash only (the '
        'Hamming-verified methods)',
        id='max-hamming-scope',
    ),
    pytest.param(
        _full(method='simhash', recall='guaranteed'),
        'recall applies to method=phash only (simhash is always '
        'pigeonhole-exact; minhash uses threshold/verify)',
        id='recall-scope',
    ),
    pytest.param(
        _full(method='phash', verify='exact'),
        'method=phash is verified by Hamming distance (max_hamming), '
        'not threshold/verify',
        id='phash-verify',
    ),
    pytest.param(
        _full(method='phash', threshold=0.9),
        'method=phash is verified by Hamming distance (max_hamming), '
        'not threshold/verify',
        id='phash-threshold',
    ),
    pytest.param(
        _full(method='phash', n_bands=3),
        'n_bands must divide 64 and be in [2, 16] (64-bit dHash packs '
        'into equal bands)',
        id='phash-n-bands',
    ),
    pytest.param(
        _full(method='phash', n_bands=1),
        'n_bands must divide 64 and be in [2, 16] (64-bit dHash packs '
        'into equal bands)',
        id='phash-n-bands-one',
    ),
    pytest.param(
        _full(method='phash', recall='sometimes'),
        'recall must be measured|guaranteed',
        id='recall',
    ),
    pytest.param(
        _full(method='phash', recall='guaranteed'),
        'recall=guaranteed needs max_hamming <= n_bands - 1 (got '
        'max_hamming=12, n_bands=4) — a pair at Hamming 4 can land one '
        'flip in every band and miss; raise n_bands (8 => exact to 7) '
        'or lower the radius',
        id='recall-guaranteed-default',
    ),
    pytest.param(
        _full(method='phash', recall='guaranteed', n_bands=8, max_hamming=8),
        'recall=guaranteed needs max_hamming <= n_bands - 1 (got '
        'max_hamming=8, n_bands=8) — a pair at Hamming 8 can land one '
        'flip in every band and miss; raise n_bands (8 => exact to 7) '
        'or lower the radius',
        id='recall-guaranteed-8band',
    ),
    pytest.param(
        _full(method='jaccard', verify='exact'),
        'verify=exact applies to method=minhash (jaccard already '
        'verifies exactly; exact has no estimate)',
        id='verify-exact-jaccard',
    ),
    pytest.param(
        _full(method='exact', verify='exact'),
        'verify=exact applies to method=minhash (jaccard already '
        'verifies exactly; exact has no estimate)',
        id='verify-exact-exact',
    ),
    pytest.param(
        _full(keep='best'),
        'keep=best needs score_column',
        id='keep-best-score-column',
    ),
    pytest.param(
        _full(index_table='i'),
        'index/matches tables are incremental-mode config',
        id='full-index-table',
    ),
    pytest.param(
        _full(matches_table='m'),
        'index/matches tables are incremental-mode config',
        id='full-matches-table',
    ),
    pytest.param(
        _inc(method='jaccard'),
        'incremental mode requires a method whose per-document state is '
        'self-contained — minhash or simhash (signature index), '
        'editdistance (text index), passages (fingerprint index), or '
        'phash (dHash band index).  lines/containment/semantic ARE '
        'corpus-relative (line document-frequency / size-partition '
        "spread / quantizer cells); jaccard's exact inverted index is "
        'the at-scale anti-pattern (use minhash); exact is one '
        'hash-groupBy per run anyway — use mode: full',
        id='incremental-jaccard',
    ),
    pytest.param(
        _inc(method='exact'),
        'incremental mode requires a method whose per-document state is '
        'self-contained — minhash or simhash (signature index), '
        'editdistance (text index), passages (fingerprint index), or '
        'phash (dHash band index).  lines/containment/semantic ARE '
        'corpus-relative (line document-frequency / size-partition '
        "spread / quantizer cells); jaccard's exact inverted index is "
        'the at-scale anti-pattern (use minhash); exact is one '
        'hash-groupBy per run anyway — use mode: full',
        id='incremental-exact',
    ),
    pytest.param(
        _inc(method='lines'),
        'incremental mode requires a method whose per-document state is '
        'self-contained — minhash or simhash (signature index), '
        'editdistance (text index), passages (fingerprint index), or '
        'phash (dHash band index).  lines/containment/semantic ARE '
        'corpus-relative (line document-frequency / size-partition '
        "spread / quantizer cells); jaccard's exact inverted index is "
        'the at-scale anti-pattern (use minhash); exact is one '
        'hash-groupBy per run anyway — use mode: full',
        id='incremental-lines',
    ),
    pytest.param(
        _inc(method='containment'),
        'incremental mode requires a method whose per-document state is '
        'self-contained — minhash or simhash (signature index), '
        'editdistance (text index), passages (fingerprint index), or '
        'phash (dHash band index).  lines/containment/semantic ARE '
        'corpus-relative (line document-frequency / size-partition '
        "spread / quantizer cells); jaccard's exact inverted index is "
        'the at-scale anti-pattern (use minhash); exact is one '
        'hash-groupBy per run anyway — use mode: full',
        id='incremental-containment',
    ),
    pytest.param(
        _inc(method='semantic'),
        'incremental mode requires a method whose per-document state is '
        'self-contained — minhash or simhash (signature index), '
        'editdistance (text index), passages (fingerprint index), or '
        'phash (dHash band index).  lines/containment/semantic ARE '
        'corpus-relative (line document-frequency / size-partition '
        "spread / quantizer cells); jaccard's exact inverted index is "
        'the at-scale anti-pattern (use minhash); exact is one '
        'hash-groupBy per run anyway — use mode: full',
        id='incremental-semantic',
    ),
    pytest.param(
        {'source': 't', 'destination': 'o', 'mode': 'incremental', 'method': 'passages'},
        'incremental passages needs index_table and destination',
        id='passages-needs-index',
    ),
    pytest.param(
        {'source': 't', 'mode': 'incremental', 'method': 'passages', 'index_table': 'i'},
        'incremental passages needs index_table and destination',
        id='passages-needs-destination',
    ),
    pytest.param(
        _inc(method='passages', destination='o'),
        'matches_table does not apply to method=passages (spans are '
        'removed, not reported as doc pairs)',
        id='passages-matches-table',
    ),
    pytest.param(
        {'source': 't', 'mode': 'incremental'},
        'incremental mode needs index_table and matches_table',
        id='incremental-needs-tables',
    ),
    pytest.param(
        {'source': 't', 'mode': 'incremental', 'index_table': 'i'},
        'incremental mode needs index_table and matches_table',
        id='incremental-needs-matches',
    ),
    pytest.param(
        {'source': 's',
         'index_table': 'i',
         'matches_table': 'm',
         'mode': 'incremental',
         'keep': 'soft'},
        'keep=soft is corpus-relative (cluster sizes) — full mode only',
        id='soft-incremental-folded',
    ),
    pytest.param(
        {'source': 's', 'destination': 'd', 'method': 'passages', 'keep': 'soft'},
        'keep/verify do not apply to method=passages (lines/spans are '
        'removed, documents kept)',
        id='passages-soft-folded',
    ),
    pytest.param(
        {'source': 'x',
         'destination': 'y',
         'method': 'passages',
         'mode': 'incremental',
         'index_table': 'i',
         'matches_table': 'm'},
        'matches_table does not apply to method=passages (spans are '
        'removed, not reported as doc pairs)',
        id='passages-matches-table-folded',
    ),
    pytest.param(
        {'source': 'x', 'destination': 'y', 'method': 'passages', 'mode': 'incremental'},
        'incremental passages needs index_table and destination',
        id='passages-needs-index-folded',
    ),
    pytest.param(
        {'source': 'x',
         'destination': 'y',
         'method': 'passages',
         'keep': 'best',
         'score_column': 's'},
        'keep/verify do not apply to method=passages (lines/spans are '
        'removed, documents kept)',
        id='passages-keep-best-folded',
    ),
    pytest.param(
        {'source': 'x', 'destination': 'y', 'method': 'passages', 'verify': 'exact'},
        'keep/verify do not apply to method=passages (lines/spans are '
        'removed, documents kept)',
        id='passages-verify-folded',
    ),
]


@pytest.mark.parametrize("cfg, message", _REJECTS)
def test_dedup_task_rejects(ctx, cfg, message):
    with pytest.raises(ValueError) as err:
        DedupTask("bad", cfg, ctx).config()
    prefix = "" if message.startswith("dedup task") else "dedup task 'bad': "
    assert str(err.value) == prefix + message


# configs accepted at config time, with the options they resolve to
_ACCEPTS = [
    pytest.param(
        _full(method='exact'),
        {'threshold': 0.8, 'keep': 'min', 'verify': 'estimate'},
        id='exact',
    ),
    pytest.param(
        _full(),
        {'threshold': 0.8, 'keep': 'min', 'verify': 'estimate'},
        id='minhash',
    ),
    pytest.param(
        _full(method='jaccard'),
        {'threshold': 0.8, 'keep': 'min', 'verify': 'estimate'},
        id='jaccard',
    ),
    pytest.param(
        _full(method='simhash'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 8,
         'max_hamming': 6},
        id='simhash',
    ),
    pytest.param(
        _full(method='containment'),
        {'threshold': 0.9,
         'keep': 'min',
         'verify': 'estimate',
         'max_ratio': 'auto',
         'spread_check': 'measure'},
        id='containment',
    ),
    pytest.param(
        _full(method='semantic'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'embedding_column': 'embedding',
         'label_column': 'label',
         'min_cosine': 0.99,
         'cell_cap': None},
        id='semantic',
    ),
    pytest.param(
        _full(method='editdistance'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'max_edit': 8,
         'block_chars': 24,
         'block_keys': ('prefix', 'suffix'),
         'max_compare_chars': 10000},
        id='editdistance',
    ),
    pytest.param(
        _full(method='passages'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'window_tokens': 10,
         'min_kept_tokens': 1},
        id='passages',
    ),
    pytest.param(
        _full(method='lines'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'min_line_docs': 5,
         'min_kept_lines': 1},
        id='lines',
    ),
    pytest.param(
        _full(method='phash'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 4,
         'max_hamming': 12,
         'on_decode_error': 'fail',
         'payload_column': 'payload',
         'recall': 'measured'},
        id='phash',
    ),
    pytest.param(
        _inc(),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'index_table': 'i',
         'matches_table': 'm',
         'dst_value': None},
        id='minhash-incremental',
    ),
    pytest.param(
        _inc(destination='o', threshold=0.5),
        {'threshold': 0.5,
         'keep': 'min',
         'verify': 'estimate',
         'index_table': 'i',
         'matches_table': 'm',
         'dst_value': 'o'},
        id='minhash-incremental-destination',
    ),
    pytest.param(
        _inc(method='simhash', n_bands=16, max_hamming=12),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 16,
         'max_hamming': 12,
         'index_table': 'i',
         'matches_table': 'm',
         'dst_value': None},
        id='simhash-incremental',
    ),
    pytest.param(
        _inc(method='editdistance'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'max_edit': 8,
         'block_chars': 24,
         'block_keys': ('prefix', 'suffix'),
         'max_compare_chars': 10000,
         'index_table': 'i',
         'matches_table': 'm',
         'dst_value': None},
        id='editdistance-incremental',
    ),
    pytest.param(
        _inc(method='phash'),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 4,
         'max_hamming': 12,
         'on_decode_error': 'fail',
         'payload_column': 'payload',
         'recall': 'measured',
         'index_table': 'i',
         'matches_table': 'm',
         'dst_value': None},
        id='phash-incremental',
    ),
    pytest.param(
        {'source': 't',
         'destination': 'o',
         'mode': 'incremental',
         'method': 'passages',
         'index_table': 'i'},
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'window_tokens': 10,
         'min_kept_tokens': 1,
         'index_table': 'i',
         'matches_table': None,
         'dst_value': 'o'},
        id='passages-incremental',
    ),
    pytest.param(
        _full(method='phash', recall='guaranteed', n_bands=8, max_hamming=7),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 8,
         'max_hamming': 7,
         'on_decode_error': 'fail',
         'payload_column': 'payload',
         'recall': 'guaranteed'},
        id='phash-guaranteed-8band',
    ),
    pytest.param(
        _full(method='phash', n_bands=16, max_hamming=12),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 16,
         'max_hamming': 12,
         'on_decode_error': 'fail',
         'payload_column': 'payload',
         'recall': 'measured'},
        id='phash-16band',
    ),
    pytest.param(
        _full(
            method='phash', on_decode_error='skip', payload_column='img',
            max_hamming=10, recall='measured',
        ),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'n_bands': 4,
         'max_hamming': 10,
         'on_decode_error': 'skip',
         'payload_column': 'img',
         'recall': 'measured'},
        id='phash-options',
    ),
    pytest.param(
        _full(verify='exact', threshold=0.5),
        {'threshold': 0.5, 'keep': 'min', 'verify': 'exact'},
        id='minhash-verify-exact',
    ),
    pytest.param(
        _full(method='exact', verify='estimate'),
        {'threshold': 0.8, 'keep': 'min', 'verify': 'estimate'},
        id='exact-verify-estimate',
    ),
    pytest.param(
        _full(method='jaccard', verify='estimate', threshold=0.7),
        {'threshold': 0.7, 'keep': 'min', 'verify': 'estimate'},
        id='jaccard-verify-estimate',
    ),
    pytest.param(
        _full(keep='best', score_column='quality'),
        {'threshold': 0.8,
         'keep': 'best',
         'verify': 'estimate',
         'score_column': 'quality'},
        id='keep-best',
    ),
    pytest.param(
        _full(method='exact', keep='soft'),
        {'threshold': 0.8, 'keep': 'soft', 'verify': 'estimate'},
        id='keep-soft',
    ),
    pytest.param(
        _full(
            method='editdistance', max_edit=4, block_chars=8,
            block_keys=['suffix'], max_compare_chars=500,
        ),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'max_edit': 4,
         'block_chars': 8,
         'block_keys': ('suffix',),
         'max_compare_chars': 500},
        id='editdistance-options',
    ),
    pytest.param(
        _full(method='containment', max_ratio=8, spread_check='strict', threshold=0.95),
        {'threshold': 0.95,
         'keep': 'min',
         'verify': 'estimate',
         'max_ratio': 8,
         'spread_check': 'strict'},
        id='containment-options',
    ),
    pytest.param(
        _full(
            method='semantic', min_cosine=0.95, cell_cap=100,
            embedding_column='emb', label_column='lab',
        ),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'embedding_column': 'emb',
         'label_column': 'lab',
         'min_cosine': 0.95,
         'cell_cap': 100},
        id='semantic-options',
    ),
    pytest.param(
        _full(method='passages', keep='min', window_tokens=5, min_kept_tokens=3),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'window_tokens': 5,
         'min_kept_tokens': 3},
        id='passages-options',
    ),
    pytest.param(
        _full(method='lines', min_line_docs=3, min_kept_lines=2),
        {'threshold': 0.8,
         'keep': 'min',
         'verify': 'estimate',
         'min_line_docs': 3,
         'min_kept_lines': 2},
        id='lines-options',
    ),
]


@pytest.mark.parametrize("cfg, resolved", _ACCEPTS)
def test_dedup_task_accepts(ctx, cfg, resolved):
    t = DedupTask("ok", cfg, ctx)
    t.config()
    assert {k: getattr(t, k) for k in resolved} == resolved


def test_dedup_task_incremental_lifecycle(ctx, spark):
    """Two-run (plus rerun) lifecycle of the catalog-managed signature
    index: run 1 seeds index + bucketed band table, run 2 processes
    only the NEW source rows, reports the planted near-dups against the
    stored index, and grows both tables by exactly the novel docs;
    run 3 with an unchanged source is a no-op."""
    for t in (
        "dd_inc_src",
        "dd_inc_index",
        "dd_inc_index_bands",
        "dd_inc_matches",
        "dd_inc_out",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    cfg = {
        "source": "dd_inc_src",
        "mode": "incremental",
        "method": "minhash",
        "threshold": 0.5,
        "index_table": "dd_inc_index",
        "matches_table": "dd_inc_matches",
        "destination": "dd_inc_out",
    }

    # run 1: 80% of the corpus
    wave1 = docs.where(F.col("doc_id") % 10 < 8)
    ctx.db.replace_table("dd_inc_src", wave1)
    _task(ctx, "dd_inc", cfg)
    n1 = wave1.count()
    idx1 = spark.table("dd_inc_index").count()
    out1 = spark.table("dd_inc_out").count()
    assert idx1 + spark.table("dd_inc_matches").count() >= n1  # all docs accounted
    assert spark.table("dd_inc_index_bands").count() == idx1 * 4  # 4 bands/doc

    # run 2: source grows by the remaining 20% plus planted near-dups
    # of wave-1 docs — only the NEW rows form the batch
    wave2_new = docs.where(F.col("doc_id") % 10 >= 8).unionByName(
        wave1.where(F.col("doc_id") % 37 == 0).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    ctx.db.replace_table("dd_inc_src", wave1.unionByName(wave2_new))
    _task(ctx, "dd_inc", cfg)
    matches2 = spark.table("dd_inc_matches").where("ingest_id = 1")
    planted = {
        r.doc_id + 300000
        for r in wave1.where(F.col("doc_id") % 37 == 0).collect()
    }
    caught = {r.batch_id for r in matches2.collect()}
    assert planted <= caught  # every planted near-dup found vs the stored index
    idx2 = spark.table("dd_inc_index").count()
    assert idx2 > idx1  # index grew by the novel docs
    assert spark.table("dd_inc_index_bands").count() == idx2 * 4
    # index ids and destination ids stay disjoint from the matched dups
    assert (
        spark.table("dd_inc_index")
        .join(matches2.select(F.col("batch_id").alias("doc_id")), "doc_id")
        .count()
        == 0
    )
    out2 = spark.table("dd_inc_out").count()
    assert out2 > out1

    # run 3: unchanged source -> empty batch -> nothing moves
    _task(ctx, "dd_inc", cfg)
    assert spark.table("dd_inc_index").count() == idx2
    assert spark.table("dd_inc_matches").where("ingest_id >= 2").count() == 0
    assert spark.table("dd_inc_out").count() == out2
    for t in (
        "dd_inc_src",
        "dd_inc_index",
        "dd_inc_index_bands",
        "dd_inc_matches",
        "dd_inc_out",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_band_table_self_heals(ctx, spark):
    """Simulated crash between the index append and the band append:
    the band table is rebuilt from index-minus-band-table on the next
    trigger, so corpus docs can never stay invisible to probes."""
    from pyspark.sql import functions as SF_

    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt, bt = "heal_idx", "heal_mt", "heal_idx_bands"
    for t in (idx, mt, bt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    texts = {
        1: "one two three four five six seven eight nine ten eleven twelve",
        2: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        3: "red orange yellow green blue indigo violet crimson amber teal",
    }
    b0 = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    dedup_ingest_batch(b0, 0, idx, mt, SF, band_table=bt)
    assert spark.table(bt).count() == spark.table(idx).count() * 4

    # simulate the partial failure: band rows for doc 2 went missing
    ctx.db.replace_table(
        "heal_tmp", spark.table(bt).where(SF_.col("doc_id") != 2)
    )
    spark.sql(f"DROP TABLE {bt}")
    ctx.db.create_table(
        bt, spark.table("heal_tmp"), mode="overwrite", bucket_by=(32, ["band_sig"])
    )
    assert spark.table(bt).count() == (spark.table(idx).count() - 1) * 4

    # next trigger repairs the divergence while processing its own batch
    b1 = spark.createDataFrame(
        [(10, "totally different words about parquet shuffles and joins")],
        "doc_id long, text string",
    )
    dedup_ingest_batch(b1, 1, idx, mt, SF, band_table=bt)
    assert spark.table(bt).count() == spark.table(idx).count() * 4
    assert spark.table(bt).where(SF_.col("doc_id") == 2).count() == 4
    for t in (idx, mt, bt, "heal_tmp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_destination_self_heals(ctx, spark):
    """Simulated crash before the destination append: the next run
    derives the destination from index-minus-destination, restoring
    the lost rows even though its batch is empty."""
    from pyspark.sql import functions as SF_

    for t in ("heal2_src", "heal2_idx", "heal2_idx_bands", "heal2_mt", "heal2_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(50)
    ctx.db.replace_table("heal2_src", docs)
    cfg = {
        "source": "heal2_src",
        "mode": "incremental",
        "method": "minhash",
        "index_table": "heal2_idx",
        "matches_table": "heal2_mt",
        "destination": "heal2_out",
    }
    _task(ctx, "heal2", cfg)
    n_out = spark.table("heal2_out").count()
    victim = spark.table("heal2_out").select("doc_id").first().doc_id
    ctx.db.replace_table(
        "heal2_out",
        spark.table("heal2_out").where(SF_.col("doc_id") != victim),
        tmp_swap=True,
    )
    assert spark.table("heal2_out").count() == n_out - 1

    # unchanged source -> empty batch, but the destination still heals
    _task(ctx, "heal2", cfg)
    assert spark.table("heal2_out").count() == n_out
    assert spark.table("heal2_out").where(SF_.col("doc_id") == victim).count() == 1
    for t in ("heal2_src", "heal2_idx", "heal2_idx_bands", "heal2_mt", "heal2_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_task_minhash_exact_verify(ctx, spark):
    """verify=exact: LSH candidates, but the EXACT shingle Jaccard
    decides — checked against a DuckDB replica that verifies candidates
    with list_intersect instead of the signature estimate."""
    from sayn_spark.functions.dedup import _SQL_MH_BANDS, _SQL_SHINGLES, _SQL_SIG

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz qq")).alias("text"),
        )
    )
    ctx.db.replace_table("dd_ex_src", corpus)
    _task(
        ctx,
        "dd_ex",
        {
            "source": "dd_ex_src",
            "destination": "dd_ex_out",
            "method": "minhash",
            "verify": "exact",
            "threshold": 0.5,
        },
    )
    got = {r.doc_id for r in spark.table("dd_ex_out").collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW d AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW corpus AS SELECT doc_id, text FROM d "
        "UNION ALL SELECT doc_id + 100000, text || ' zz qq' FROM d"
    )
    pairs = [
        (a, b)
        for a, b in con.execute(
            f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM corpus WHERE len({_SQL_SHINGLES}) > 0
),
sigs AS (SELECT doc_id, {_SQL_SIG} AS sig FROM sh),
bands AS {_SQL_MH_BANDS.format(src="sigs")},
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id > b.doc_id
)
SELECT id_a, id_b FROM candidates
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
"""
        ).fetchall()
    ]
    parent = _union_find(pairs)
    all_ids = {r[0] for r in con.execute("SELECT doc_id FROM corpus").fetchall()}
    roots = {}
    for n in parent:
        x = n
        while parent[x] != x:
            x = parent[x]
        roots.setdefault(x, set()).add(n)
    dropped = {n for members in roots.values() for n in members} - set(roots)
    assert got == all_ids - dropped
    assert len(dropped) > 0


def test_dedup_task_exact_null_texts_never_dedupe(ctx, spark):
    """Docs with NULL text are not copies of each other: md5(NULL) is
    NULL and a naive hash-group would collapse them into one cluster."""
    rows = [(1, "same words here"), (2, "same words here"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    ctx.db.replace_table("dd_null_src", df)
    _task(
        ctx,
        "dd_null",
        {"source": "dd_null_src", "destination": "dd_null_out", "method": "exact"},
    )
    got = {r.doc_id for r in spark.table("dd_null_out").collect()}
    assert got == {1, 3, 4}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = [f"t{i}" for i in range(10)]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=5, max_size=18),
        min_size=3,
        max_size=10,
    )
)
def test_dedup_task_jaccard_matches_model_on_random_corpora(spark, data):
    """Property: full-mode jaccard dedup == shingle-Jaccard edges ->
    union-find -> keep-min, computed by a pure-python model, on random
    dense-vocabulary corpora (exact verify — no LSH probability)."""
    from pathlib import Path

    from sayn_spark.core.compiler import Compiler
    from sayn_spark.core.objects import DbObjectCompiler
    from sayn_spark.functions.registry import release_persisted

    ctx = TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=Path("/tmp"),
    )
    docs = {i: toks for i, toks in enumerate(data)}
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()], schema="doc_id long, text string"
    )
    ctx.db.replace_table("pp_src", df)
    try:
        _task(
            ctx,
            "pp",
            {
                "source": "pp_src",
                "destination": "pp_out",
                "method": "jaccard",
                "threshold": 0.5,
            },
        )
        got = {r.doc_id for r in spark.table("pp_out").collect()}
    finally:
        release_persisted()

    def shingles(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in docs.items()}
    pairs = []
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                pairs.append((a, b))
    parent = _union_find(pairs)
    roots = {}
    for n in parent:
        x = n
        while parent[x] != x:
            x = parent[x]
        roots.setdefault(x, set()).add(n)
    dropped = {n for m in roots.values() for n in m} - set(roots)
    assert got == set(docs) - dropped


def test_incremental_short_docs_converge(ctx, spark):
    """Docs too short to shingle (< 3 tokens) or with NULL text carry
    no minhash signature, but must still reach the index (empty sig,
    no band rows) and the destination — and must LEAVE the batch, so
    an unchanged source stays a no-op instead of re-selecting them
    forever."""
    for t in ("short_src", "short_idx", "short_idx_bands", "short_mt", "short_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rows = [
        (1, "one two three four five six seven eight nine ten"),
        (2, "hello world"),  # 2 tokens -> zero 3-shingles
        (3, None),  # NULL text
        (4, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    ctx.db.replace_table("short_src", src)
    cfg = {
        "source": "short_src",
        "mode": "incremental",
        "method": "minhash",
        "index_table": "short_idx",
        "matches_table": "short_mt",
        "destination": "short_out",
    }
    _task(ctx, "short", cfg)
    idx = spark.table("short_idx")
    assert {r.doc_id for r in idx.collect()} == {1, 2, 3, 4}
    # sigless docs hold an empty signature and contribute no band rows
    assert idx.where("size(sig) = 0").count() == 2
    assert spark.table("short_idx_bands").where("doc_id in (2, 3)").count() == 0
    assert {r.doc_id for r in spark.table("short_out").collect()} == {1, 2, 3, 4}

    # rerun with an unchanged source: nothing moves, nothing re-probes
    _task(ctx, "short", cfg)
    assert spark.table("short_idx").count() == 4
    assert not ctx.db.table_exists("short_mt")  # no matches ever formed
    assert spark.table("short_out").count() == 4
    for t in ("short_src", "short_idx", "short_idx_bands", "short_mt", "short_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_band_heal_runs_before_probe(ctx, spark):
    """The crash-residue repair must precede the probe: if a prior run
    died between the index append and the band append, the VERY NEXT
    ingest containing a near-dup of the orphaned doc must still report
    the match (healing only at append time would mis-declare it novel
    one ingest too late — a permanent duplicate)."""
    from pyspark.sql import functions as SF_

    from sayn_spark.streaming.materialise import dedup_ingest_batch

    idx, mt, bt = "hb_idx", "hb_mt", "hb_idx_bands"
    for t in (idx, mt, bt, "hb_tmp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    b0 = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten eleven"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    dedup_ingest_batch(b0, 0, idx, mt, SF, threshold=0.5, band_table=bt)

    # simulate the crash residue: doc 2 indexed but bandless
    ctx.db.replace_table("hb_tmp", spark.table(bt).where(SF_.col("doc_id") != 2))
    spark.sql(f"DROP TABLE {bt}")
    ctx.db.create_table(
        bt, spark.table("hb_tmp"), mode="overwrite", bucket_by=(32, ["band_sig"])
    )

    # the next batch holds a near-dup of the ORPHANED doc — the pre-probe
    # heal must make doc 2 visible to this very probe
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa zz")],
        "doc_id long, text string",
    )
    dedup_ingest_batch(b1, 1, idx, mt, SF, threshold=0.5, band_table=bt)
    m = spark.table(mt).where("ingest_id = 1").collect()
    assert {(r.batch_id, r.corpus_id) for r in m} == {(10, 2)}
    # and doc 10 was NOT mis-admitted to the index
    assert spark.table(idx).where("doc_id = 10").count() == 0
    for t in (idx, mt, bt, "hb_tmp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_destination_honours_table_properties(ctx, spark):
    """Incremental-mode destination writes pass table_properties
    through, same as full mode (bucketed catalog layout survives)."""
    for t in ("tp_src", "tp_idx", "tp_idx_bands", "tp_mt", "tp_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(30)
    )
    ctx.db.replace_table("tp_src", docs)
    cfg = {
        "source": "tp_src",
        "mode": "incremental",
        "method": "minhash",
        "index_table": "tp_idx",
        "matches_table": "tp_mt",
        "destination": "tp_out",
        "table_properties": {"bucket_by": ["doc_id"], "buckets": 8},
    }
    _task(ctx, "tp", cfg)
    ddl = spark.sql("SHOW CREATE TABLE tp_out").first()[0]
    assert "CLUSTERED BY" in ddl and "8 BUCKETS" in ddl
    for t in ("tp_src", "tp_idx", "tp_idx_bands", "tp_mt", "tp_out"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_keep_soft_matches_registered_weights(ctx, spark):
    """keep: soft must keep every row and weight it 1e6/cluster_size —
    checked against an exact-text DuckDB replica."""
    import duckdb

    from sayn_spark.operators.dedup import DedupTask

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where("doc_id % 3 = 0").select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"
        )
    )
    ctx.db.replace_table("dsoft_src", corpus)
    t = DedupTask(
        "dsoft",
        {
            "source": "dsoft_src",
            "destination": "dsoft_out",
            "method": "exact",
            "keep": "soft",
        },
        ctx,
    )
    t.config()
    t.run()
    out = {r.doc_id: r.weight_ppm for r in spark.table("dsoft_out").collect()}
    assert len(out) == corpus.count()  # nothing dropped
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW d AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = {
        r[0]: r[1]
        for r in con.execute(
            """
WITH corpus AS (
  SELECT doc_id, text FROM d
  UNION ALL SELECT doc_id + 500000, text FROM d WHERE doc_id % 3 = 0
),
g AS (SELECT doc_id, md5(text) AS h FROM corpus WHERE text IS NOT NULL),
cs AS (SELECT h, COUNT(*) AS n FROM g GROUP BY h)
SELECT g.doc_id, CAST(1000000 // cs.n AS BIGINT) FROM g JOIN cs USING (h)
"""
        ).fetchall()
    }
    for d, w in want.items():
        assert out[d] == w, (d, out[d], w)
    # planted copies weigh <= 500000, and their originals match
    assert all(out[d + 500000] <= 500000 for d in range(0, 50, 3))
