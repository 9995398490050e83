#!/usr/bin/env python3
"""Knob census: every "spark.graft.*" key the engine source names must be
documented in README's Configuration section, and every documented key
must still be in the source.

Usage: python3 tools/knobs.py

Lists each key string found under src/main/scala with the places it
occurs, then compares that set with the README list: the bullets of the
"## Configuration" section name live keys, and the bullets after its
"Retired keys" paragraph name retired ones (still in the source, only to
reject them). Exits 1 when the sets differ.
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
DOC_KEY = re.compile(r"`(spark\.graft\.[A-Za-z0-9_.]+)`")


def source_keys():
    found = {}
    for path in sorted((ROOT / "src/main/scala").rglob("*.scala")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for key in KEY.findall(line):
                found.setdefault(key, []).append(
                    f"{path.relative_to(ROOT)}:{n}")
    return found


def readme_keys():
    """(live, retired) keys named at the head of each Configuration bullet:
    the keys before the bullet's ' — ' separator."""
    text = (ROOT / "README.md").read_text()
    section = re.search(r"^## Configuration\n(.*?)(?=^## )", text,
                        re.S | re.M)
    if not section:
        sys.exit("README.md has no '## Configuration' section")
    live, retired, current = set(), set(), None
    bullets = []
    for line in section.group(1).splitlines():
        if line.startswith("Retired keys"):
            current = retired
        elif line.startswith("- "):
            bullets.append([line[2:], current if current is not None else live])
        elif line.startswith("  ") and bullets:
            bullets[-1][0] += " " + line.strip()
    for body, target in bullets:
        target.update(DOC_KEY.findall(body.split(" — ")[0]))
    return live, retired


def main():
    found = source_keys()
    live, retired = readme_keys()
    for title, keys in (("live", live), ("retired", retired)):
        print(f"{title} keys ({len(keys)}):")
        for key in sorted(keys):
            print(f"  {key:45s} {', '.join(found.get(key, ['-']))}")
    undocumented = sorted(set(found) - live - retired)
    unread = sorted((live | retired) - set(found))
    for key in undocumented:
        print(f"UNDOCUMENTED: {key} at {', '.join(found[key])}")
    for key in unread:
        print(f"NOT IN SOURCE: {key} is listed in README's Configuration")
    if undocumented or unread or live & retired:
        sys.exit(1)
    print("knobs: OK")


if __name__ == "__main__":
    main()
