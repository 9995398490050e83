#!/usr/bin/env python3
"""Knob census: every "spark.graft.*" key the engine source names must be
documented in README's Configuration section, and every documented key
must still be in the source. Every session conf write (`conf.set(`) must
be one README allows.

Usage: python3 tools/knobs.py

Lists each key string found under src/main/scala with the places it
occurs, then compares that set with the README list: the bullets of the
"## Configuration" section name live keys, and the bullets after its
"Retired keys" paragraph name retired ones (still in the source, only to
reject them). Then lists every `conf.set(` call under src/main/scala
with its key argument and checks it against the bullets after the
section's "Session conf writes" paragraph, each naming a source file
(relative to src/main/scala) and the key argument it may set. Exits 1
when the key sets differ or a write is not allowed.
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
DOC_KEY = re.compile(r"`(spark\.graft\.[A-Za-z0-9_.]+)`")
CONF_SET = re.compile(r"conf\.set\(\s*([^,]+?)\s*,")
SRC = ROOT / "src/main/scala"


def source_keys():
    found = {}
    for path in sorted((ROOT / "src/main/scala").rglob("*.scala")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for key in KEY.findall(line):
                found.setdefault(key, []).append(
                    f"{path.relative_to(ROOT)}:{n}")
    return found


def conf_writes():
    """(file, key argument, line) of every `conf.set(` call."""
    found = []
    for path in sorted(SRC.rglob("*.scala")):
        text = path.read_text()
        for m in CONF_SET.finditer(text):
            found.append((str(path.relative_to(SRC)), m.group(1),
                          text.count("\n", 0, m.start()) + 1))
    return found


def readme_section():
    text = (ROOT / "README.md").read_text()
    section = re.search(r"^## Configuration\n(.*?)(?=^## )", text,
                        re.S | re.M)
    if not section:
        sys.exit("README.md has no '## Configuration' section")
    return section.group(1)


def allowed_writes():
    """(file, key argument) pairs: the two code spans at the head of each
    bullet after the "Session conf writes" paragraph."""
    body = readme_section().split("\nSession conf writes", 1)
    if len(body) < 2:
        sys.exit("README.md Configuration has no 'Session conf writes' list")
    return {tuple(re.findall(r"`([^`]+)`", line)[:2])
            for line in body[1].splitlines() if line.startswith("- ")}


def readme_keys():
    """(live, retired) keys named at the head of each Configuration bullet:
    the keys before the bullet's ' — ' separator."""
    live, retired, current = set(), set(), None
    bullets = []
    for line in readme_section().split("\nSession conf writes")[0] \
            .splitlines():
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
    allowed = allowed_writes()
    writes = conf_writes()
    print(f"session conf writes ({len(writes)}):")
    for path, arg, n in writes:
        print(f"  {path}:{n}  {arg}")
    unlisted = [w for w in writes if w[:2] not in allowed]
    for path, arg, n in unlisted:
        print(f"UNLISTED CONF WRITE: {path}:{n} sets {arg}")
    if undocumented or unread or live & retired or unlisted:
        sys.exit(1)
    print("knobs: OK")


if __name__ == "__main__":
    main()
