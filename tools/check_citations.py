#!/usr/bin/env python3
"""Citation checker: every `README.md:<n>` (or `:<a>-<b>`) cited in
src/main/scala or SURVEY.md must point INSIDE the reference README, and
the construct being ATTRIBUTED to the reference — the backtick span or
'quoted' token immediately preceding the citation, the way every cite
in this repo is written ("`ALTER TABLE …`, README.md:NNN") — must
actually appear within +/-3 lines of the cited range.

Matching is token-based (identifier-ish tokens of length >= 3, 60%
overlap required): the cite quotes a construct, the reference may wrap
it (`assumeNotNull(x) IN …` vs `x IN …`), and exact-substring matching
would miss that while token overlap does not. Anchors naming OUR code
(graft identifiers, Spark API, lane names) are skipped — they are not
attributions.

Classification per citation:
  STRONG  - the attributed construct's tokens found in the cited range
  WEAK    - no quoted construct adjacent to the cite (prose-only);
            only the line range is validated
  FAIL    - a construct was attributed but does NOT appear there
            (the round-9 'DROP PARTITION at README.md:563' defect)

Exit 1 on any FAIL or out-of-range cite, and 2 (one line naming the
missing file, no traceback) when the reference README is absent, so
the check could not run. Run in the certify step:
    python3 tools/check_citations.py
"""
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
REF = Path("/root/reference/README.md")

CITE = re.compile(r"README(?:\.md)?:(\d+)(?:-(\d+))?")
ANCHOR = re.compile(r"`([^`]+)`|'([^']{3,80})'")
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]{2,}")
# anchors that are OUR code/API/lane names, never reference constructs
SELFISH = re.compile(
    r"graft|snapshot|\.scala|\.py\b|Spec\b|spark\.|partitionOverwriteMode|"
    r"readStream|writeStream|foreachBatch|mapInPandas|Dataset|DataFrame|"
    r"__part|MANIFEST\b|commit-|snap\.|sortWithinPartitions|\.option|"
    r"Queries\.|Writer\.|Exec\b|format_number|nullValue|emptyValue")
# how far back (chars) an anchor may sit from its citation
ADJACENCY = 90

def tokens(s: str) -> set:
    return {t.lower() for t in TOKEN.findall(s)}

def main() -> int:
    if not REF.is_file():
        print(f"citations: NOT RUN, the reference {REF} is missing")
        return 2
    ref_lines = REF.read_text(errors="replace").split("\n")
    nref = len(ref_lines)
    files = sorted((REPO / "src/main/scala").rglob("*.scala"))
    files.append(REPO / "SURVEY.md")
    files.append(REPO / "MIGRATION.md")
    fails, weak, strong = [], 0, 0
    for f in files:
        for lineno, line in enumerate(
                f.read_text(errors="replace").split("\n"), 1):
            for m in CITE.finditer(line):
                a = int(m.group(1))
                b = int(m.group(2)) if m.group(2) else a
                where = f"{f.relative_to(REPO)}:{lineno}"
                if not (1 <= a <= b <= nref):
                    fails.append(f"{where}: cites README.md:{a}-{b} "
                                 f"outside the {nref}-line reference")
                    continue
                window_toks = tokens(" ".join(
                    ref_lines[max(0, a - 1 - 3):min(nref, b + 3)]))
                # the attributed construct: the LAST anchor that ends
                # within ADJACENCY chars before the citation
                anchor = None
                for am in ANCHOR.finditer(line[:m.start()]):
                    t = am.group(1) or am.group(2)
                    if m.start() - am.end() <= ADJACENCY and \
                            not SELFISH.search(t) and tokens(t):
                        anchor = t
                if anchor is None:
                    weak += 1
                    continue
                toks = tokens(anchor)
                hit = len(toks & window_toks) / len(toks)
                if hit >= 0.6:
                    strong += 1
                else:
                    fails.append(
                        f"{where}: attributes `{anchor}` to "
                        f"README.md:{a}-{b} but only {hit:.0%} of its "
                        f"tokens appear within +/-3 lines there")
    print(f"citations: {strong} strong, {weak} weak (range-only), "
          f"{len(fails)} FAIL")
    for msg in fails:
        print("FAIL", msg)
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main())
