"""Output checks, one per workload. A run whose check fails is a failed run.

Each check reads the committed parquet with pyarrow (no Spark) and returns
a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

GOLDEN = os.path.join("tests", "fixtures", "golden_labels.parquet")
GOLDEN_SEED = 42
GOLDEN_MIN_F1 = 0.99


def _read(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns)


def _distinct(table, col: str) -> bool:
    return len(pc.unique(table.column(col))) == table.num_rows


def golden(root: str, scored_dir: str) -> list[str]:
    """Seed 42 only: the first 800 pages are the golden fixture's urls.
    On them, keep F1 ≥ 0.99 and byte-identical extracted/scrubbed text."""
    gold = pq.read_table(os.path.join(root, GOLDEN)).to_pandas().set_index("url")
    out = _read(scored_dir, ["url", "keep", "extracted_text", "scrubbed_text"]).to_pandas()
    out = out[out["url"].isin(gold.index)].set_index("url")
    if len(out) != len(gold):
        return [f"golden: {len(out)} of {len(gold)} fixture urls in the output"]
    j = gold.join(out, rsuffix="_out")
    tp = int((j["keep"] & j["keep_out"]).sum())
    fp = int((~j["keep"] & j["keep_out"]).sum())
    fn = int((j["keep"] & ~j["keep_out"]).sum())
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    problems = []
    if f1 < GOLDEN_MIN_F1:
        problems.append(f"golden: keep F1 {f1:.4f} < {GOLDEN_MIN_F1}")
    for col in ("extracted_text", "scrubbed_text"):
        bad = int((j[col] != j[col + "_out"]).sum())
        if bad:
            problems.append(f"golden: {bad} rows with a different {col}")
    return problems


def filter_output(root: str, out_dir: str, input_dir: str, run_id: str,
                  seed: int) -> list[str]:
    """Committed rows = input rows, by url and with distinct doc_id, and
    the run's keep/drop totals in the lineage table equal the output's
    keep counts."""
    problems = []
    scored_dir = os.path.join(out_dir, "scored")
    scored = _read(scored_dir, ["doc_id", "url", "keep"])
    urls = _read(input_dir, ["url"]).column("url")
    if scored.num_rows != len(urls):
        problems.append(f"committed rows {scored.num_rows} != input rows {len(urls)}")
    if not _distinct(scored, "doc_id"):
        problems.append("duplicate doc_id in the committed output")
    if set(scored.column("url").to_pylist()) != set(urls.to_pylist()):
        problems.append("committed urls differ from the input urls")
    m = _read(os.path.join(out_dir, "metrics"), ["run_id", "n_keep", "n_drop"])
    m = m.filter(pc.equal(m.column("run_id"), run_id))
    got = (pc.sum(m.column("n_keep")).as_py() or 0, pc.sum(m.column("n_drop")).as_py() or 0)
    n_keep = pc.sum(scored.column("keep").cast("int64")).as_py() or 0
    if got != (n_keep, scored.num_rows - n_keep):
        problems.append(f"lineage keep/drop {got[0]}/{got[1]} != output "
                        f"keep/drop {n_keep}/{scored.num_rows - n_keep}")
    if seed == GOLDEN_SEED:
        problems += golden(root, scored_dir)
    return problems


def dedup_output(out_dir: str, input_dir: str) -> list[str]:
    """No two survivors share a text, so every planted exact duplicate is
    gone; every survivor is an input row, unchanged; the report counts
    match the files."""
    problems = []
    kept = _read(os.path.join(out_dir, "deduped"), ["doc_id", "text"]).to_pandas()
    docs = _read(input_dir, ["doc_id", "text"]).to_pandas().set_index("doc_id")
    if kept["text"].duplicated().any():
        problems.append(f"{int(kept['text'].duplicated().sum())} survivors repeat a text")
    if not kept["doc_id"].isin(docs.index).all():
        problems.append("a survivor id is not in the input")
    elif (docs.loc[kept["doc_id"], "text"].to_numpy() != kept["text"].to_numpy()).any():
        problems.append("a survivor's text differs from its input row")
    if len(kept) > docs["text"].nunique():
        problems.append("more survivors than distinct input texts")
    rep = _read(os.path.join(out_dir, "report"), ["n_input", "n_kept"]).to_pylist()
    if rep != [{"n_input": len(docs), "n_kept": len(kept)}]:
        problems.append(f"report {rep} != input {len(docs)} / kept {len(kept)}")
    return problems
