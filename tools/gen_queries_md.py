#!/usr/bin/env python3
"""Regenerate QUERIES.md from the SparkEntry.catalog entries + module scaladoc.

One row per gated query: name, gate kind (hash vs rows-only), and the
first sentence of the implementing function's scaladoc. Run from the
repo root after adding a query; commit the result.

Driver-side tooling only; the Scala library never depends on this.
"""
import re
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QNAME = r'q[0-9]+[a-z0-9_]*'

# Each catalog entry opens `Query("<name>", <builder>, ...`; a fence's
# oracle is `None` (`[^"]` keeps the match inside one entry).
src = open(f'{ROOT}/src/main/scala/graft/SparkEntry.scala').read()
raw = re.findall(rf'Query\("({QNAME})",\s*(.+)', src)
fences = set(re.findall(rf'Query\("({QNAME})",[^"]*?,\s*None\)', src))
oracle_names = {n for n, _ in raw} - fences

entries = []
for name, rhs in raw:
    m = re.search(r'([A-Za-z]+)\.(q[0-9]+[A-Za-z0-9]*)', rhs)
    entries.append((name, m.group(1) if m else '?', m.group(2) if m else '?'))

docs = {}
for f in glob.glob(f'{ROOT}/src/main/scala/graft/**/*.scala', recursive=True):
    text = open(f).read()
    mod = os.path.basename(f)[:-6]
    # only the doc block DIRECTLY above the def counts, and the doc
    # body must not span a `*/` — a non-greedy `.*?` backtracks RIGHT
    # THROUGH intermediate code (it credited q184 with the scaladoc of
    # the helper val above it, swallowing the val and q184's own doc)
    for m in re.finditer(
            r'/\*\*((?:[^*]|\*(?!/))*)\*/\s*\n\s*(?:private\s+)?def (q[0-9]+[A-Za-z0-9]*)',
            text, re.S):
        doc = re.sub(r'\s*\*\s?', ' ', m.group(1)).strip()
        doc = re.sub(r'\[\[([^\]]*)\]\]', r'\1', doc)
        first = doc.split('. ')[0].rstrip('.')
        docs[(mod, m.group(2))] = ' '.join(first.split())

# Declared fence paths: the ONLY queries allowed to stay rows-only.
# Each rides an engine-internal sketch with no cross-engine replay BY
# DESIGN and has a hash-gated twin on the board (VERDICT r11 #3).
FENCE = {
    'q93b_approx_deciles':
        'engine-internal GK percentile_approx fence; exact twin q93, '
        'replayable-sketch twin q53',
    'q168_bloom_decontaminate':
        'engine-internal Spark bloom (XXH64, private layout) fence; '
        'exact twin q70, replayable-bloom twin q228',
}

SECTIONS = [
    ('Relational & analytic SQL surface', ['Relational', 'SkewJoin', 'Sources']),
    ('Reference ETL pipeline (boat dataset)', ['EtlQueries', 'BoatQueries']),
    ('Event / product analytics', ['EventOps']),
    ('Text analysis', ['TextOps']),
    ('Deduplication & record linkage', ['Dedup', 'Linkage']),
    ('Embedding similarity & ANN', ['Similarity']),
    ('Sampling, splitting & curation', ['Sampling']),
    ('Graph', ['GraphOps']),
    ('Multimodal & batched inference', ['Multimodal', 'Inference']),
    ('Structured Streaming (oracle-gated end-to-end streams)', ['StreamQueries']),
]


def qnum(n):
    m = re.match(r'q([0-9]+)(b?)', n)
    return (int(m.group(1)), m.group(2))


lines = [
    '# QUERIES — the gated query surface, one line each',
    '',
    'Generated by `tools/gen_queries_md.py` from `SparkEntry.queries` and the',
    'implementing functions\' scaladoc — regenerate after adding a query.',
    '**Gate**: `hash` = full rows+schema+hash compare against the DuckDB',
    'oracle at sf0.01; `rows (fence)` = a DECLARED fence path riding an',
    'engine-internal sketch with no cross-engine replay by design — each',
    'names its hash-gated exact/replayable twin, and the generator rejects',
    'any rows-only query not explicitly declared here.',
    '',
]
total = 0
claimed = set()
for title, mods in SECTIONS:
    rows = [(n, mod, fn) for (n, mod, fn) in entries if mod in mods]
    rows.sort(key=lambda r: qnum(r[0]))
    total += len(rows)
    claimed |= {r[0] for r in rows}
    lines.append(f'## {title} ({len(rows)})')
    lines.append('')
    lines.append('| query | gate | what it computes |')
    lines.append('|---|---|---|')
    for n, mod, fn in rows:
        d = docs.get((mod, fn), '')
        d = re.sub(r'^q[0-9]+b? — ', '', d)
        assert d, f'no scaladoc directly above {mod}.{fn} (for {n})'
        if n in oracle_names:
            gate = 'hash'
        else:
            assert n in FENCE, (
                f'{n} is rows-only but not a declared fence path - '
                f'gate it or add it to FENCE with a twin rationale')
            gate = f'rows (fence: {FENCE[n]})'
        lines.append(f'| `{n}` | {gate} | {d} |')
    lines.append('')

orphans = [e for e in entries if e[0] not in claimed]
assert not orphans, f'queries outside every section: {orphans}'
assert total == len(entries), (total, len(entries))
lines.insert(1, '')
lines.insert(2, f'{total} queries total; '
                f'{sum(1 for n, _, _ in entries if n in oracle_names)} hash-gated, '
                f'{sum(1 for n, _, _ in entries if n not in oracle_names)} rows-only.')
open(f'{ROOT}/QUERIES.md', 'w').write('\n'.join(lines) + '\n')
print(f'wrote QUERIES.md: {total} queries')
