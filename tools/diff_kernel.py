"""Differential harness: kernel vs reference on generated corpora.

Usage: python tools/diff_kernel.py [n_docs] [seed]
Prints the first divergence per doc with stage context. Exits non-zero
when any doc mismatches, or when the reference checkout is absent.
"""

import json
import os
import sys

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from parsee_pdf_reader_spark.sources.synth import build_document  # noqa
from parsee_pdf_reader_spark.kernel.engine import extract_document  # noqa
import refadapter  # noqa
import refshim  # noqa


def diff_pages(mine, ref, doc, verbose=False):
    issues = []
    for m, r in zip(mine, ref):
        pi = r["page_index"]
        if m["extracted_text"] != r["extracted_text"]:
            issues.append((doc, pi, "extracted_text"))
            if verbose:
                mt, rt = m["extracted_text"], r["extracted_text"]
                for i, (a, b) in enumerate(zip(mt.split("\n\n"),
                                               rt.split("\n\n"))):
                    if a != b:
                        print(f"  para {i}:\n   mine={a!r}\n   ref ={b!r}")
                        break
                else:
                    print(f"  len mine={len(mt)} ref={len(rt)}")
        if m["n_elements"] != r["n_elements"]:
            issues.append((doc, pi, "n_elements",
                           m["n_elements"], r["n_elements"]))
        if len(m["tables"]) != len(r["tables"]):
            issues.append((doc, pi, "n_tables",
                           len(m["tables"]), len(r["tables"])))
        else:
            for ti, (mt, rt) in enumerate(zip(m["tables"], r["tables"])):
                if mt != rt:
                    issues.append((doc, pi, f"table{ti}"))
                    if verbose:
                        for key in mt:
                            if mt[key] != rt.get(key):
                                print(f"  table{ti}.{key}:")
                                print(f"   mine={json.dumps(mt[key])[:500]}")
                                print(f"   ref ={json.dumps(rt[key])[:500]}")
                                break
        if m["paragraphs"] != r["paragraphs"]:
            if not any(x[2] == "extracted_text" and x[1] == pi
                       for x in issues):
                issues.append((doc, pi, "paragraph_boxes"))
                if verbose:
                    for i, (a, b) in enumerate(zip(m["paragraphs"],
                                                   r["paragraphs"])):
                        if a != b:
                            print(f"  pbox {i}:\n   mine={a}\n   ref ={b}")
                            break
    return issues


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    verbose = "-v" in sys.argv
    if not os.path.isdir(refshim.REFERENCE_PATH):
        print(f"reference checkout absent ({refshim.REFERENCE_PATH}): "
              "nothing compared")
        sys.exit(2)
    only = None
    for a in sys.argv:
        if a.startswith("--doc="):
            only = a.split("=")[1]
    bad = 0
    err_mine = err_ref = 0
    for i in range(n):
        key = f"doc{i}"
        if only and key != only:
            continue
        blob, _ = build_document(key, seed)
        try:
            ref = refadapter.reference_extract_document(blob)
            ref_err = None
        except Exception as e:
            ref_err = f"{type(e).__name__}: {e}"
        try:
            mine = extract_document(blob)
            my_err = None
        except Exception as e:
            my_err = f"{type(e).__name__}: {e}"
        if ref_err or my_err:
            if (ref_err is None) != (my_err is None):
                print(f"{key}: ERROR MISMATCH mine={my_err} ref={ref_err}")
                bad += 1
            else:
                err_mine += 1
            continue
        issues = diff_pages(mine, ref, key, verbose)
        if issues:
            bad += 1
            print(f"{key}: {issues[:4]}")
            if verbose:
                break
    print(f"docs={n} mismatched={bad} both_error={err_mine}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
