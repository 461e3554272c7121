"""Seeded input generators for the benchmark workloads.

Each generator builds a pages table ``(url, text, ...)`` from the repo's own
golden log lines and returns, next to the table, everything the output check
needs: the five expected counters, the expected row count of every
``(status, pattern_id)`` sink and the exact expected ``out_line`` of a fixed
sample of pages.

Every page has the same fixed mix of line roles (matched, excluded, ...);
only positions and field values depend on the seed. Two seeds therefore give
the same amount of work of each kind, so the run-to-run spread of a metric
measures the system, not the draw.

Golden lines are read from the test modules with ``ast`` (literal string
assignments only), so no test module is imported or executed.
"""

from __future__ import annotations

import ast
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

# ---- golden lines -----------------------------------------------------------


def golden_literals(path: Path) -> dict[str, str]:
    """Module-level ``NAME = "literal"`` string assignments of a source file."""
    tree = ast.parse(path.read_text())
    out: dict[str, str] = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            out[node.targets[0].id] = node.value.value
    return out


@dataclass
class Corpus:
    """A generated workload input plus its closed-form expected outputs."""

    pages: dict[str, list]                      # pages table, column -> values
    lookups: dict[str, dict[str, list]]         # extra input tables by name
    counters: dict[str, int]                    # total/matched/unmatched/excluded/skipped
    sinks: dict[tuple[str, int], int]           # (status, pattern_id) -> rows
    sample: dict[tuple[str, int], str]          # (source, line_no) -> out_line
    sample_raw: dict[tuple[str, int], str]      # (source, line_no) -> raw (unmatched)
    sample_extra: dict[tuple[str, int], dict] = field(default_factory=dict)
    properties: dict[str, float] = field(default_factory=dict)

    @property
    def n_pages(self) -> int:
        return len(self.pages["url"])

    @property
    def sample_sources(self) -> list[str]:
        return sorted({s for s, _ in self.sample} | {s for s, _ in self.sample_raw})


def _counters(total: int, matched: int, unmatched: int, excluded: int, skipped: int) -> dict[str, int]:
    return {
        "total": total,
        "matched": matched,
        "unmatched": unmatched,
        "excluded": excluded,
        "skipped": skipped,
    }


SAMPLE_PAGES = 3  # the first pages of every table are checked byte for byte

# ---- cloudfront_tsv -----------------------------------------------------------

CF_LINES_PER_PAGE = 12
# per page: one skipped line number, and this many lines of each role on the
# other positions
CF_UNMATCHED = 1
CF_EXCLUDED = 4
CF_MATCHED = CF_LINES_PER_PAGE - 1 - CF_UNMATCHED - CF_EXCLUDED
CF_FILTER = "sc_status >= 400"
CF_LABELS = ("date", "time", "c_ip", "cs_method", "cs_uri_stem", "sc_status", "sc_bytes", "time_taken")
CF_PASS_STATUS = ("400", "403", "404", "416", "500", "502", "503", "504")
CF_FAIL_STATUS = ("200", "206", "301", "302", "304")
CF_EDGES = ("LAX1", "IAD89-C1", "FRA2", "NRT57-P2", "GRU1", "SYD1-C1")
CF_METHODS = ("GET", "POST", "HEAD", "PUT")


def cloudfront_golden(root: Path) -> tuple[str, list[tuple[str, str]]]:
    """(CF_IN, ordered (field, value) pairs of CF_OUT)."""
    lit = golden_literals(root / "tests" / "test_presets_golden.py")
    pairs = json.loads(lit["CF_OUT"], object_pairs_hook=list)
    return lit["CF_IN"], pairs


def cloudfront_pages(root: Path, seed: int, n_pages: int) -> Corpus:
    """CloudFront preset pages built from the golden ``CF_IN`` line.

    Matched and excluded lines are ``CF_IN`` with seeded values in a few
    fields (all ``sc_status`` values numeric); unmatched lines are a line cut
    to 20-31 of its 33 tab-separated fields, which has too few tabs for the
    pattern and for the ``fast_twin`` tab guard. One seeded line number per
    page is skipped.
    """
    rng = random.Random(f"cloudfront_tsv:{seed}")
    _, golden = cloudfront_golden(root)
    names = [k for k, _ in golden]
    base = dict(golden)
    out_fields = [f for f in names if f in CF_LABELS]
    header = "\t".join(["no", *out_fields])
    skip_line = rng.randint(2, CF_LINES_PER_PAGE)

    urls: list[str] = []
    texts: list[str] = []
    sample: dict[tuple[str, int], str] = {}
    sample_raw: dict[tuple[str, int], str] = {}
    for p in range(n_pages):
        url = f"https://d{rng.randrange(16**6):06x}.cloudfront.net/logs/{seed}/{p:07d}"
        roles = (["unmatched"] * CF_UNMATCHED + ["excluded"] * CF_EXCLUDED
                 + ["matched"] * CF_MATCHED)
        rng.shuffle(roles)
        roles.insert(skip_line - 1, "skipped")
        lines = []
        first_matched = True
        for i, role in enumerate(roles, start=1):
            rec = dict(base)
            rec["date"] = f"2019-12-{rng.randint(1, 28):02d}"
            rec["time"] = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            rec["x_edge_location"] = rng.choice(CF_EDGES)
            rec["sc_bytes"] = str(rng.randint(100, 99999))
            rec["c_ip"] = f"192.0.2.{rng.randint(1, 254)}"
            rec["cs_method"] = rng.choice(CF_METHODS)
            rec["cs_uri_stem"] = f"/assets/{rng.randrange(5000)}/index.html"
            rec["sc_status"] = rng.choice(
                CF_PASS_STATUS if role in ("matched", "skipped") else CF_FAIL_STATUS
            )
            rec["time_taken"] = f"0.{rng.randint(1, 999):03d}"
            values = [rec[k] for k in names]
            if role == "unmatched":
                values = values[: rng.randint(20, 31)]
            line = "\t".join(values)
            lines.append(line)
            if p >= SAMPLE_PAGES:
                continue
            if role == "matched":
                body = "\t".join([str(i)] + [rec[f] or "-" for f in out_fields])
                sample[(url, i)] = (header + "\n" + body) if first_matched else body
                first_matched = False
            elif role == "unmatched":
                sample_raw[(url, i)] = line
        urls.append(url)
        texts.append("\n".join(lines) + "\n")

    P = n_pages
    L = CF_LINES_PER_PAGE
    # measured on the generated text: fast_twin's guard admits a line only
    # when its tab count equals the pattern's separator count
    all_lines = [ln for t in texts for ln in t.splitlines()]
    off_guard = sum(ln.count("\t") != len(names) - 1 for ln in all_lines)
    counters = _counters(L * P, CF_MATCHED * P, CF_UNMATCHED * P, CF_EXCLUDED * P, P)
    sinks = {
        ("matched", 0): CF_MATCHED * P,
        ("excluded", 0): CF_EXCLUDED * P,
        ("unmatched", -1): CF_UNMATCHED * P,
        ("skipped", -1): P,
    }
    properties = {
        "lines_per_page": len(all_lines) / max(P, 1),
        "unmatched_share": CF_UNMATCHED / L,
        "off_tab_guard_share": off_guard / max(len(all_lines), 1),
        "excluded_share": CF_EXCLUDED / L,
        "skipped_share": 1 / L,
        "skip_line": float(skip_line),
        "expected_hits.0": float((L - CF_UNMATCHED) * P),
        "expected_hits.-1": float(CF_UNMATCHED * P),
    }
    return Corpus(
        pages={"url": urls, "text": texts},
        lookups={},
        counters=counters,
        sinks=sinks,
        sample=sample,
        sample_raw=sample_raw,
        properties=properties,
    )


# ---- ltsv_pipeline ------------------------------------------------------------

# fixed per-page multiset of golden lines: T4_BAD is the one unmatched line
LTSV_MIX = ("T1", "T1", "T2", "T2", "T3", "T3", "T4", "T5", "T5", "T4_BAD")
LTSV_LINES_PER_PAGE = len(LTSV_MIX)
LTSV_OUT = {"T1": "D1", "T2": "D2", "T3": "D3", "T4": "D4", "T5": "D5"}
LTSV_BATCHES = 2
LANG_NAMES = {"en": "English", "de": "German", "fr": "French", "ja": "Japanese", "es": "Spanish"}
N_HOSTS = 48
REGIONS = ("us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-northeast-1", "sa-east-1")


def ltsv_pages(root: Path, seed: int, n_pages: int) -> Corpus:
    """LTSV pages from the golden ``T*`` lines, with page-level ``lang`` and
    ``host`` keys for the two broadcast lookups (``lang`` -> ``lang_name``,
    ``host`` -> ``region``)."""
    rng = random.Random(f"ltsv_pipeline:{seed}")
    lit = golden_literals(root / "tests" / "golden_ltsv.py")
    hosts = [f"edge-{rng.randrange(16**4):04x}-{h}.example.net" for h in range(N_HOSTS)]
    region_of = {h: rng.choice(REGIONS) for h in hosts}

    urls, texts, langs, page_hosts = [], [], [], []
    sample: dict[tuple[str, int], str] = {}
    sample_raw: dict[tuple[str, int], str] = {}
    sample_extra: dict[tuple[str, int], dict] = {}
    for p in range(n_pages):
        host = rng.choice(hosts)
        lang = rng.choice(sorted(LANG_NAMES))
        url = f"https://{host}/access/{seed}/{p:07d}.ltsv"
        mix = list(LTSV_MIX)
        rng.shuffle(mix)
        for i, name in enumerate(mix, start=1):
            if p >= SAMPLE_PAGES:
                break
            if name == "T4_BAD":
                sample_raw[(url, i)] = lit[name]
            else:
                sample[(url, i)] = lit[LTSV_OUT[name]]
                sample_extra[(url, i)] = {"lang_name": LANG_NAMES[lang], "region": region_of[host]}
        urls.append(url)
        texts.append("\n".join(lit[n] for n in mix) + "\n")
        langs.append(lang)
        page_hosts.append(host)

    P = n_pages
    n_bad = LTSV_MIX.count("T4_BAD")
    total = LTSV_LINES_PER_PAGE * P
    counters = _counters(total, total - n_bad * P, n_bad * P, 0, 0)
    sinks = {("matched", 0): total - n_bad * P, ("unmatched", -1): n_bad * P}
    properties = {
        "lines_per_page": float(LTSV_LINES_PER_PAGE),
        "unmatched_share": n_bad / LTSV_LINES_PER_PAGE,
        "off_tab_guard_share": 0.0,
        "excluded_share": 0.0,
        "skipped_share": 0.0,
        "batches": float(LTSV_BATCHES),
        "expected_hits.0": float(total - n_bad * P),
        "expected_hits.-1": float(n_bad * P),
    }
    return Corpus(
        pages={"url": urls, "text": texts, "lang": langs, "host": page_hosts},
        lookups={
            "lang": {"lang": sorted(LANG_NAMES), "lang_name": [LANG_NAMES[k] for k in sorted(LANG_NAMES)]},
            "region": {"host": hosts, "region": [region_of[h] for h in hosts]},
        },
        counters=counters,
        sinks=sinks,
        sample=sample,
        sample_raw=sample_raw,
        sample_extra=sample_extra,
        properties=properties,
    )


# ---- parquet output -------------------------------------------------------------


def write_tables(corpus: Corpus, out_dir: Path, n_files: int) -> Path:
    """Write the pages table as ``n_files`` parquet files (contiguous row
    ranges) plus one file per lookup table; returns ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages_dir = out_dir / "pages"
    pages_dir.mkdir(parents=True, exist_ok=True)
    n = corpus.n_pages
    n_files = max(1, min(n_files, n))
    bounds = [n * k // n_files for k in range(n_files + 1)]
    for k in range(n_files):
        lo, hi = bounds[k], bounds[k + 1]
        table = pa.table({c: v[lo:hi] for c, v in corpus.pages.items()})
        pq.write_table(table, pages_dir / f"part-{k:04d}.parquet")
    for name, cols in corpus.lookups.items():
        d = out_dir / name
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table(cols), d / "part-0000.parquet")
    return out_dir


GENERATORS = {
    "cloudfront_tsv": cloudfront_pages,
    "ltsv_pipeline": ltsv_pages,
}


def generate(workload: str, root: Path, seed: int, n_pages: int) -> Corpus:
    return GENERATORS[workload](root, seed, n_pages)
