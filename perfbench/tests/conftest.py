from __future__ import annotations

import sys
from pathlib import Path

# the repository root: makes both `perfbench` and the engine importable
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
