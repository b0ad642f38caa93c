"""End-to-end benchmark of the CDC → view → read loop; see README.md."""
