"""Doc-drift guards (VERDICT r11 'What's wrong #2').

The verify skill (.claude/skills/verify/SKILL.md) documents the session
defaults a future verifier will drive against; round 11 shipped a FIFO
scheduler default while the skill still said FAIR, sending the next
session's verifier chasing a phantom. These asserts read BOTH the doc and
the code so the pair can only change together.
"""

from __future__ import annotations

import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
SKILL = REPO / ".claude" / "skills" / "verify" / "SKILL.md"
SESSION = REPO / "tesseract_spark" / "session.py"
APP = REPO / "tesseract_spark" / "server" / "app.py"


def test_verify_skill_scheduler_line_matches_session_default():
    """The FAIR per-request pools are gone: get_spark sets no scheduler mode
    and reads no scheduler knob (Spark's FIFO default), the server assigns
    no pool, and the skill documents neither the knob nor a FAIR mode."""
    src = SESSION.read_text()
    assert "spark.scheduler.mode" not in src
    assert "SPARK_GRAFT_SCHEDULER" not in src
    assert "spark.scheduler.pool" not in APP.read_text()

    skill = SKILL.read_text()
    assert "default FIFO" in skill
    assert "SPARK_GRAFT_SCHEDULER" not in skill
    assert "`spark.scheduler.mode=FAIR` is set" not in skill


def test_verify_skill_documents_actual_get_spark_pins():
    """The semantic pins a verifier relies on (UTC + AQE + ANSI-off) must
    exist in get_spark exactly as the skill's gotchas describe."""
    src = SESSION.read_text()
    for key, val in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.ansi.enabled", "false"),
    ]:
        assert f'"{key}"' in src and f'"{val}"' in src, key
    skill = SKILL.read_text()
    assert "pins UTC + AQE" in skill


# ---------------------------------------------------------------------------
# Codec boundary claims (VERDICT r14 'what's wrong' #1 / next-round #3): the
# r14 decode_png docstring still said "16-bit and Adam7 raise
# NotImplementedError" after both were implemented. These guards read the
# ACTUAL raise sites out of each codec module's AST and pin them against the
# documented boundary list, so a boundary closed in code but still documented
# as open (or vice versa) fails pytest instead of misleading the next reader.
# ---------------------------------------------------------------------------

OPS = REPO / "tesseract_spark" / "operators"

#: per codec module: substrings that identify each DELIBERATE
#: NotImplementedError boundary. Both directions are enforced — every raise
#: site must match a pin (adding a boundary updates this list + the module
#: docstring together) and every pin must match a raise site (closing a
#: boundary removes it here + in the docstring together).
CODEC_BOUNDARY_PINS: dict[str, list[str]] = {
    "png.py": [],  # r15: zero PNG layout boundaries remain
    "jpeg.py": [
        "differential/hierarchical JPEG unsupported",
        "arithmetic-coded JPEG unsupported",
        "-bit precision unsupported",
        "-component JPEG unsupported",
        "4-component JPEG is 8-bit only here",
    ],
    "mp4.py": ["frame-level video decode needs an H.264/H.265 codec"],
    "rawmedia.py": [
        "BITMAPCOREHEADER",
        "compressed BMP",
        "-bit BMP unsupported",
        "16-bit PPM unsupported",
    ],
    "multimodal.py": ["payload is not a BMP/PNG/PPM/WAV/JPEG"],
}

#: docstring phrases that must accompany (or must vanish with) the raises
CODEC_DOC_CLAIMS: dict[str, list[tuple[str, bool]]] = {
    # (phrase, must_be_present)
    "png.py": [
        ("No PNG layout boundaries remain", True),
        ("raise ``NotImplementedError``", False),  # nothing raises it anymore
        ("sub-8-bit grayscale PNG unsupported", False),
        # r15 review: the codec is numpy-vectorized — a lingering
        # "stdlib only" claim is the same docs-drift class as the r14
        # boundary miss
        ("stdlib only", False),
        ("stdlib-only", False),
    ],
    "jpeg.py": [
        ("arithmetic", True),
        ("hierarchical", True),
    ],
    "mp4.py": [("H.264/H.265", True)],
}


def _nie_messages(path: pathlib.Path) -> list[str]:
    """Messages of every ``raise NotImplementedError(...)`` in the module
    (f-string pieces joined over their literal parts)."""
    import ast

    out: list[str] = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Raise) or node.exc is None:
            continue
        exc = node.exc
        if isinstance(exc, ast.Name) and exc.id == "NotImplementedError":
            out.append("")
        elif (
            isinstance(exc, ast.Call)
            and isinstance(exc.func, ast.Name)
            and exc.func.id == "NotImplementedError"
        ):
            if not exc.args:
                out.append("")
            else:
                a = exc.args[0]
                if isinstance(a, ast.Constant):
                    out.append(str(a.value))
                elif isinstance(a, ast.JoinedStr):
                    out.append(
                        "".join(
                            str(v.value)
                            for v in a.values
                            if isinstance(v, ast.Constant)
                        )
                    )
                else:
                    out.append("<dynamic>")
    return out


def test_codec_boundary_raises_match_pins_both_directions():
    for fname, pins in CODEC_BOUNDARY_PINS.items():
        msgs = _nie_messages(OPS / fname)
        for m in msgs:
            assert any(p in m for p in pins), (
                f"{fname}: NotImplementedError({m!r}) is not a pinned "
                "boundary — add it to CODEC_BOUNDARY_PINS AND the module "
                "docstring's boundary list"
            )
        for p in pins:
            assert any(p in m for m in msgs), (
                f"{fname}: pinned boundary {p!r} no longer raises — the "
                "boundary was closed; remove it here AND from every "
                "docstring that documents it as open"
            )


def test_codec_docstrings_agree_with_boundary_state():
    for fname, claims in CODEC_DOC_CLAIMS.items():
        # whitespace-normalized so docstring line wrapping can't split a phrase
        src = " ".join((OPS / fname).read_text().split())
        for phrase, present in claims:
            if present:
                assert phrase in src, f"{fname}: docstring lost {phrase!r}"
            else:
                assert phrase not in src, (
                    f"{fname}: docstring still claims {phrase!r} — that "
                    "boundary no longer exists in code"
                )


def test_png_module_has_no_not_implemented_paths():
    """r15 closed the last PNG layout (sub-8-bit grayscale); the module
    must stay free of NotImplementedError raise sites so its 'full
    §11.2.2 grid' docstring claim cannot silently rot."""
    assert _nie_messages(OPS / "png.py") == []
